"""Text analysis operators over a documents table.

North-star extension operators (no reference counterpart — SURVEY.md §2.10):
language-ID (stopword n-gram heuristic), quality scoring, token counting,
document fingerprinting, TF-IDF/BM25, LM and classifier scoring, hash
splits, boilerplate removal — each with an exact DuckDB equivalent for
the oracle gate. Almost all are native ``pyspark.sql.functions``
expressions; ``pii_scrub`` is one ``mapInArrow`` pass.

Every derived table an operator reuses (the inverted index, the per-doc
profile, the LM counts, ranked and scored streams) is a session registry
entry (``index_cache.cached_index``/``cached_value``) keyed on the raw
source frame; a corpus that is not file-backed has no key and takes the
registry's ``key=None`` bypass, which builds the same frame inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int60, normalized_text, token_count, tokens

#: language → stopword regex (word-boundary alternation, full-match group 0)
LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|in|is|a)\b",
    "de": r"\b(der|die|und|das|ist|ein)\b",
    "fr": r"\b(le|la|les|et|est|un)\b",
    "es": r"\b(el|los|las|y|es|un)\b",
    "zh": r"(的|是|了|在|和)",
}
#: deterministic tie-break priority (first wins on score ties)
LANG_PRIORITY = ["en", "de", "fr", "es", "zh"]


def _stop_count(col, lang: str):
    # regexp_count, not size(regexp_extract_all(...)): same non-overlapping
    # match count (r13: zero mismatches corpus-wide), but the matcher never
    # materializes the match array — measured ~15% cheaper per scan on the
    # hot quality/language expressions.
    return F.regexp_count(col, F.lit(LANG_STOPWORDS[lang]))


#: BPE-ish pre-tokenizer: contraction suffixes, space-prefixed letter
#: runs, digit CHUNKS OF ≤3 (how modern BPE vocabularies split numbers),
#: punctuation runs. Leftmost-first alternation — identical in Java regex
#: (Spark) and RE2 (DuckDB); no lookahead, so both engines agree.
SUBWORD_RE = r"'[sdmt]| ?[A-Za-z]+| ?[0-9]{1,3}| ?[^\sA-Za-z0-9]+"


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace, word-regex, and BPE-ish subword token counts per
    document — the budget signals a pre-training pipeline needs before a
    real tokenizer pass (``n_subword_est`` tracks BPE counts closely
    enough for packing/mixture budgeting and is pure codegen regex)."""
    # served as a projection of the session-cached per-doc profile
    # (r13 — see _doc_profile); the expressions are identical
    return _doc_profile(docs, id_col, text_col).select(
        id_col,
        F.col("__wc").alias("n_tokens"),
        F.col("__nword").alias("n_word_tokens"),
        F.col("__nsub").alias("n_subword_est"),
        F.col("__nchars").alias("n_chars_measured"),
    )


def _doc_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The per-document PROFILE table — (id, content_md5, __wc,
    __nonspace, __stop_en_raw, __nword, __nsub, __nchars, __stop_<lang>
    ×5) — every integer statistic the curation dashboards derive from a
    raw text scan, computed in ONE scan and session-cached (r13).

    Before this artifact, ``quality_scores``, ``language_id``,
    ``token_counts``, ``curate_corpus``, ``quality_dup_crosstab``'s hash
    side, ``classifier_doc_meta`` and ``token_budget_selection``'s build
    each paid their own full-text scan + regex pass per execution for a
    different subset of these columns — the most re-run expressions in
    the catalog after the inverted index. All downstream metrics are
    pure projections/aggregates of the profile, built from the SAME
    column expressions as before (bit-identical doubles: the quality
    score's operand order is unchanged — see ``_profile_quality``).
    One narrow row per doc (a 32-char hash + ~10 ints), the per-doc
    metadata table every curation pipeline materializes once per corpus
    snapshot.
    """
    from ..index_cache import cached_index, plan_key

    def _build() -> DataFrame:
        t = F.col(text_col)
        tl = F.lower(t)
        return docs.select(
            F.col(id_col),
            F.md5(normalized_text(t)).alias("content_md5"),
            token_count(t).alias("__wc"),
            F.length(F.regexp_replace(t, r"\s", "")).alias("__nonspace"),
            _stop_count(t, "en").alias("__stop_en_raw"),
            F.regexp_count(t, F.lit(r"[A-Za-z0-9]+")).alias("__nword"),
            F.regexp_count(t, F.lit(SUBWORD_RE)).alias("__nsub"),
            F.length(t).alias("__nchars"),
            *[
                _stop_count(tl, lg).alias(f"__stop_{lg}")
                for lg in LANG_PRIORITY
            ],
        )

    return cached_index(
        plan_key(docs, "doc_profile", id_col, text_col), _build
    )


def _profile_quality():
    """The heuristic quality score over the profile's integer columns
    (word count, non-space chars, English stopwords) — raw doubles in a
    fixed evaluation order (no round(): cross-engine round
    implementations differ in last-ulp cases; integer-derived ratios are
    already bit-deterministic). ``oracles.quality_score_sql`` is its
    DuckDB mirror."""
    wc = F.col("__wc")
    nonspace = F.col("__nonspace")
    stop = F.col("__stop_en_raw")
    return (
        0.4 * F.least(wc.cast("double") / 100.0, F.lit(1.0))
        + 0.4 * (stop.cast("double") / wc)
        + 0.2 * F.least((nonspace.cast("double") / wc) / 10.0, F.lit(1.0))
    )


def quality_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality score from length / stopword / word-shape ratios.

    All features derive from integer counts, so the score doubles are
    bit-deterministic across engines. Served as a projection of the
    session-cached per-doc profile (r13 — see ``_doc_profile``).
    """
    p = _doc_profile(docs, id_col, text_col)
    wc = F.col("__wc")
    nonspace = F.col("__nonspace")
    stop = F.col("__stop_en_raw")
    return p.select(
        id_col,
        wc.alias("word_count"),
        (nonspace.cast("double") / wc).alias("avg_word_len"),
        stop.alias("stopword_count"),
        (stop.cast("double") / wc).alias("stopword_ratio"),
        _profile_quality().alias("quality_score"),
    )


def language_scores(t_lower) -> dict:
    """Per-language stopword-vote score expressions over a LOWERED text
    column (shared by the batch operator and the streaming quality gate)."""
    return {lang: _stop_count(t_lower, lang) for lang in LANG_PRIORITY}


def _pred_from_scores(scores: dict):
    """CASE expression over already-evaluated score inputs — the
    deterministic priority tie-break (earlier LANG_PRIORITY wins)."""
    best = F.greatest(*[scores[lg] for lg in LANG_PRIORITY])
    pred = F.lit("unknown")
    # build reversed so earlier languages win ties (last when evaluated first)
    for lang in reversed(LANG_PRIORITY):
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return pred


def language_pred(t_lower):
    """Predicted-language column expression with the deterministic
    priority tie-break.

    NOTE the cost shape: embedding this single expression inlines each
    language's regex into every CASE branch (codegen's subexpression
    elimination does not hoist out of conditionals), so a row can pay
    up to ~7× the five regex scans. Fine for a one-column streaming
    projection; the batch operator (``language_id``) instead evaluates
    the scores ONCE as columns and cases over the columns."""
    return _pred_from_scores(language_scores(t_lower))


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID with deterministic priority tie-break.

    Two stacked projections, not one: the five regex scans land in
    their own project as named columns, and the tie-break CASE
    references the COLUMNS. Catalyst keeps the split (CollapseProject
    refuses to duplicate non-cheap expressions into the CASE branches),
    so each regex runs exactly once per row — measured 2.5 s → ~0.4 s
    over 50 k docs vs the single-projection form, whose CASE inlined
    every score into every branch (up to 35 regex evaluations/row).

    r13: the five per-language counts come from the session-cached
    per-doc profile (``_doc_profile``) — same expressions, evaluated
    once per corpus instead of once per execution; the CASE stays a
    projection over the materialized columns."""
    p = _doc_profile(docs, id_col, text_col)
    scored = p.select(
        id_col,
        *[
            F.col(f"__stop_{lg}").alias(f"score_{lg}")
            for lg in LANG_PRIORITY
        ],
    )
    col_scores = {lg: F.col(f"score_{lg}") for lg in LANG_PRIORITY}
    return scored.select(
        id_col,
        *[col_scores[lg] for lg in LANG_PRIORITY],
        _pred_from_scores(col_scores).alias("predicted_lang"),
    )


def fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content fingerprints: md5 of normalized text + min-shingle hash.

    The min-shingle hash (min over 3-gram shingle hashes) is a 1-permutation
    MinHash — winnowing-lite; equal fingerprints ⇒ near-identical content.

    Two narrow branches joined on id: content md5 straight off the doc,
    min-shingle hash as a partial-agg groupBy over the (shuffle-free)
    shingle explode; the join side is per-doc and broadcast-able. Two
    rejected shapes, both measured slower: ``array_min(transform(...))``
    runs md5 interpreted per element (2.6×); carrying content_md5 through
    the groupBy as a key makes the collapsed projection recompute the
    normalize+md5 once per exploded shingle row (6×).

    The joined (id, content_md5, min_shingle_hash) table IS the content
    fingerprint table a dedup deployment materializes once per corpus
    snapshot, so it is session-cached (r13, the scored-stream
    discipline): a warm execution otherwise re-runs the normalize+md5
    scan and the per-shingle hash+min over the whole cached shingle
    stream.
    """
    from ..index_cache import cached_index, plan_key
    from .dedup import shingles  # local import to avoid cycle

    def _build() -> DataFrame:
        # the per-doc hash reads from the shared profile artifact (r13)
        norm_md5 = _doc_profile(docs, id_col, text_col).select(
            id_col, "content_md5"
        )
        min_sh = (
            shingles(docs, id_col, text_col)
            .groupBy(id_col)
            .agg(F.min(md5_int60(F.col("shingle"))).alias("min_shingle_hash"))
        )
        # no output sort: the result is a corpus-sized derived table (one
        # row per doc, like the other text ops) — a global orderBy would
        # pay a range-sampling pass that re-executes the join (measured
        # 2.3 → 1.25 s at sf0.1). Presentation surfaces order the bounded
        # slice they show.
        return norm_md5.join(min_sh, id_col, "left")

    return cached_index(
        plan_key(docs, "fingerprints", id_col, text_col), _build
    )


def _corpus_count(docs: DataFrame) -> int:
    """Corpus row count — a registry value. The n_docs literal is a
    property of the exact frame, not just its files: ``docs`` and
    ``docs.filter(...)`` read the same files but have different counts,
    so the key includes the canonicalized plan (``plan_key``)."""
    from ..index_cache import cached_value, plan_key

    return cached_value(plan_key(docs, "n_docs"), docs.count)


def tf_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The corpus's inverted index — (doc_id, term, tf) — built ONCE per
    (source files, plan, columns) and session-persisted (index_cache).

    This is the shared artifact every token-statistics operator derives
    from: ``term_frequencies``/``tfidf_weights``/``doc_keyterms`` join the
    document-frequency aggregate onto it, ``repetition_scores`` reads its
    per-doc tf distribution, and ``bigram_lm_scores`` folds it into corpus
    unigram counts — so the token explode + (doc, term) shuffle are paid
    once per corpus, not once per query. Empty tokens are filtered (only a
    fully-empty document can produce one under split-on-trim semantics).
    """
    from ..index_cache import cached_index, plan_key

    def _build() -> DataFrame:
        terms = _term_stream(docs, text_col, "term", id_col)
        return terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))

    return cached_index(plan_key(docs, "tf_index", id_col, text_col), _build)


def _term_stream(
    docs: DataFrame,
    text_col: str,
    alias: str,
    *cols: str,
    distinct: bool = False,
) -> DataFrame:
    """The whitespace term stream: one row per non-empty token of
    ``text_col`` (as ``alias``), carrying ``cols``; with ``distinct``,
    one row per distinct token of each document (``array_distinct``
    before the explode). The one tokenizer behind ``tf_index``, the
    classifier's serving postings, the BPE word tables and the
    per-stratum vocabularies."""
    terms = tokens(F.col(text_col))
    if distinct:
        terms = F.array_distinct(terms)
    return docs.select(
        *[F.col(c) for c in cols], F.explode(terms).alias(alias)
    ).filter(F.col(alias) != "")


def term_frequencies(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TF/DF table: (doc_id, term, tf, df, n_docs) — the integer-exact
    core of TF-IDF, gate-checkable because every column is an integer
    (``tfidf_weights`` adds the ln-based weight, which is NOT oracle-gated:
    ln differs between JVM and DuckDB libm in the last ulp — measured
    27/528 mismatches on this exact domain).

    Scale shape: the classic inverted-index build — narrow token explode →
    one shuffle on (doc, term) for tf → term-level partial agg for df →
    join df back on term.

    The vocabulary-sized df side is hinted for a broadcast join, which
    assumes a natural-language vocabulary (millions of terms at worst) that
    fits a broadcast: the planner cannot estimate the aggregate's size and
    would otherwise fall back to a sort-merge join re-shuffling the whole TF
    table.

    The (doc, term, tf) table is the corpus's INVERTED INDEX — a
    session-cached artifact (index_cache, same discipline as
    shingle_arrays / minhash signatures): both consumers here (the output
    rows and the df aggregate) scan it, so without materialization the
    explode + first shuffle run twice per query, and every repeated
    TF/TF-IDF query pays a full rebuild. The df side stays a partial
    aggregation over it (map-side combine — skew-safe on stop words,
    unlike a window over ``term`` which would put one hot term's entire
    posting list in a single task).
    """
    n_docs = _corpus_count(docs)
    tf = tf_index(docs, id_col, text_col)
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return tf.join(F.broadcast(df_tbl), "term").select(
        F.col(id_col),
        "term",
        F.col("tf").cast("int").alias("tf"),
        F.col("df").cast("int").alias("df"),
        F.lit(n_docs).cast("int").alias("n_docs"),
    )


def tfidf_weights(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """TF-IDF weights: tf · (ln((n_docs + 1) / (df + 1)) + 1) — the
    smoothed sklearn-style formulation over ``term_frequencies``.

    Float discipline note: the ln keeps this out of the exact-hash oracle
    gate (cross-engine last-ulp divergence); correctness is pytest-proven
    against Python's math.log. Downstream exact pipelines should join on
    the integer TF/DF table and apply their own idf.
    """
    base = term_frequencies(docs, id_col, text_col)
    idf = F.log(
        (F.col("n_docs").cast("double") + F.lit(1.0))
        / (F.col("df").cast("double") + F.lit(1.0))
    ) + F.lit(1.0)
    return base.select(
        F.col(id_col), "term", "tf", "df", (F.col("tf") * idf).alias("tfidf")
    )


#: PII regexes — shared verbatim with the DuckDB oracle (oracles.py): only
#: constructs Java regex and RE2 interpret identically (character classes,
#: bounded repetition, \b on ASCII word chars; no lookaround/backrefs).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9().\s-]{6,}[0-9]",
}
#: redaction order: emails first (phone's digit-run pattern would eat the
#: digits inside addresses), then IPs (also digit runs), then phones.
PII_ORDER = ("email", "ip", "phone")


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII redaction for training corpora: (id, text_clean, n_email,
    n_ip, n_phone).

    Each category is counted on the text as it stands BEFORE that
    category's redaction (sequential: raw → emails out → IPs out →
    phones out), so a digit run is attributed to exactly one category —
    an IP never double-counts as a phone. Pure native expressions:
    whole-stage codegen, zero shuffles, scan-speed at any corpus size —
    the right shape for a 100 TB scrub pass. The DuckDB oracle applies
    the identical patterns in the identical order.

    Counting trick: each category's count is the PLACEHOLDER DELTA —
    occurrences of ``<CAT>`` after the replace minus before it. Exact by
    construction (no pattern can match inside another category's
    placeholder, and each match contributes exactly one placeholder), and
    it halves the regex traversals: one per category (the replace)
    instead of two (extract_all + replace) — placeholder occurrences
    count via literal substring counting.

    r14 (guide §4.2): the whole scrub is ONE ``mapInArrow`` pass — the
    three sequential replaces run as ``pyarrow.compute.
    replace_substring_regex`` (RE2) and the placeholder deltas as
    ``count_substring``, all vectorized over Arrow string buffers. The
    DuckDB oracle evaluates the IDENTICAL patterns in the identical
    order under the same RE2 engine (the PII_PATTERNS contract above:
    only constructs Java regex and RE2 interpret identically), so
    Spark-side RE2 is parity-safe by the same argument — pinned
    value-exact against the previous stacked-projection JVM form in
    ``test_pii_scrub_arrow_matches_jvm_expressions`` (incl. null/empty
    text) and by the oracle gate. Measured 17-18% warm at sf0.1 AND sf1
    (interleaved min-of-5; the query is scan+payload-output bound, the
    regex compute inside it shrinks ~40%), with exactly one
    PythonMapInArrow node over the two input columns — column pruning
    preserved by the explicit select.
    """
    id_type = dict(docs.dtypes)[id_col]
    pats = [
        (PII_PATTERNS[cat], f"<{cat.upper()}>") for cat in PII_ORDER
    ]
    names = [f"n_{cat}" for cat in PII_ORDER]

    def _scrub(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            ids, t = b.column(0), b.column(1)
            stages = [t]
            for pat, ph in pats:
                stages.append(
                    pc.replace_substring_regex(
                        stages[-1], pattern=pat, replacement=ph
                    )
                )
            cols = [ids, stages[-1]]
            for i, (_, ph) in enumerate(pats):
                cols.append(
                    pc.cast(
                        pc.subtract(
                            pc.count_substring(stages[i + 1], ph),
                            pc.count_substring(stages[i], ph),
                        ),
                        pa.int32(),
                    )
                )
            yield pa.RecordBatch.from_arrays(
                cols, ["__id", "text_clean", *names]
            )

    out_schema = ", ".join(
        [f"__id {id_type}", "text_clean string"]
        + [f"{n} int" for n in names]
    )
    return (
        docs.select(F.col(id_col), F.col(text_col))
        .mapInArrow(_scrub, out_schema)
        .withColumnRenamed("__id", id_col)
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: (id, n_matched, contaminated) — how many
    of a doc's word ``n``-grams appear anywhere in the ``benchmark``
    (evaluation) corpus, and whether that reaches ``min_overlap``.

    THE pretraining-data hygiene operator: training documents that share
    long n-grams with an eval set leak the benchmark into the model.
    Scale shape: the benchmark side is SMALL by construction (eval sets
    are thousands of documents, not billions), so its distinct n-gram set
    is built once and BROADCAST — the training-corpus scan stays
    shuffle-free except the per-doc match count (partial-agg groupBy on
    id). n-grams come from the same array-native ``shingle_array``
    projection the dedup suite uses (distinct within doc, so n_matched
    counts distinct matching grams).
    """
    from ..index_cache import cached_index, plan_key
    from .dedup import shingle_array  # local import to avoid cycle

    # explode_outer keeps gramless docs (fewer than n tokens) as a null-gram
    # row, so zero-match documents fall out of the SAME aggregation —
    # no second join to restore them (measured: removes the sort-merge
    # join-back stage pair). Grams stay strings: the gram join is a
    # BROADCAST probe (never shuffled), and the hash join already hashes
    # the string key natively — pre-hashing with md5 was measured as pure
    # added compute.
    #
    # The exploded (id, gram) postings are a session-cached index artifact
    # (same discipline as term_frequencies' inverted index): production
    # decontamination screens ONE training corpus against MANY benchmarks,
    # and the n-gram projection — the expensive interpreted zip_with chain
    # — is benchmark-independent, so it is built once per (corpus, n).
    def _build_grams() -> DataFrame:
        return docs.select(
            F.col(id_col),
            F.explode_outer(shingle_array(F.col(text_col), n)).alias("gram"),
        )

    doc_grams = cached_index(
        plan_key(docs, "gram_index", id_col, text_col, str(n)), _build_grams
    )

    # The counted (id, n_matched) table for a FIXED (corpus, benchmark)
    # pair is the decontamination REPORT a pipeline materializes once per
    # benchmark sweep (r13, the scored-stream discipline): without it a
    # warm execution re-built + re-broadcast the benchmark gram set and
    # re-aggregated the corpus-sized posting stream per run. Keyed on
    # BOTH source frames (multi_plan_key — a rewrite of either side
    # invalidates) but NOT on min_overlap, which is a pure projection
    # below.
    from ..index_cache import multi_plan_key

    def _build_counted() -> DataFrame:
        bench_grams = benchmark.select(
            F.explode(shingle_array(F.col(text_col), n)).alias("bgram")
        ).distinct()
        return (
            doc_grams.join(
                F.broadcast(bench_grams),
                doc_grams["gram"] == bench_grams["bgram"],
                "left",
            )
            .groupBy(id_col)
            .agg(F.count("bgram").cast("int").alias("n_matched"))
        )

    counted = cached_index(
        multi_plan_key(
            [docs, benchmark], "contamination_counts", id_col, text_col, str(n)
        ),
        _build_counted,
    )
    return counted.select(
        F.col(id_col),
        "n_matched",
        (F.col("n_matched") >= min_overlap).alias("contaminated"),
    )


def repetition_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repetition-based quality signals (the Gopher-rules family):
    (id, n_tokens, top_term_count, top_term_frac, n_2grams,
    n_dup_2grams, dup_2gram_frac).

    High single-term fraction or duplicated-2-gram fraction marks
    boilerplate / keyword-stuffed / template text — the standard
    repetition filters applied before pretraining. Both fractions are
    integer ratios (one division each, fixed operand order), so the gate
    hashes match across engines.

    Three branches joined on id, ALL over session-cached index artifacts
    (the r13 shape):
    - top term count: ``MAX(tf)`` over the session-cached inverted index
      (``term_frequencies``' (doc, term, tf) artifact) — reuses the index
      build instead of an O(tokens²) per-row mode computation; per-doc
      partial agg, broadcast-able join side. (r13: a join-free variant —
      longest equal-run fold over the sorted token array in the same
      scan — was built and MEASURED SLOWER, 0.96 vs 0.69 s warm at
      sf0.1: ``aggregate``/HOF lambdas are interpreted per element, and
      that CPU tax exceeds the narrow per-doc join it removed. Rejected;
      the join's both sides are per-doc-grain int rows, not corpus
      payloads.)
    - 2-gram duplication: a per-doc aggregate over the session-cached
      ``bigram_index`` (the LM family's (doc, w1, w2, tf_b) artifact):
      occurrences = Σ tf_b, distinct = the doc's row count, duplicated =
      occurrences − distinct. Exactly equal to the previous in-row
      ``zip_with``-then-``array_distinct`` computation — tokens contain
      no whitespace (split on \\s+), so the space-joined gram string is
      injective on (w1, w2) pairs, adjacency is the same self-shift, and
      a doc with <2 tokens (absent from the index) coalesces to the same
      0s — but the interpreted per-element concat lambda and the
      O(grams) array_distinct no longer run per execution: the text scan
      keeps only the single ``token_count`` split.
    - the docs scan itself now projects just (id, n_tokens) — needed
      because dl-style reconstructions can't distinguish empty-text docs
      (token_count = 1: split('') = ['']) from tokenless ones, and null
      text must stay null through every derived column.
    """
    from ..index_cache import cached_index, plan_key

    def _build() -> DataFrame:
        # the shared inverted-index artifacts — NOT local rebuilds: a
        # verbatim duplicate under the same cache key would silently serve
        # whichever body was built first if the two ever diverged
        # (advisor r7)
        tf = tf_index(docs, id_col, text_col)
        top = tf.groupBy(id_col).agg(
            F.max("tf").cast("int").alias("top_term_count")
        )
        bstats = (
            bigram_index(docs, id_col, text_col)
            .groupBy(id_col)
            .agg(
                F.sum("tf_b").cast("int").alias("__n2"),
                F.count(F.lit(1)).cast("int").alias("__nd2"),
            )
        )

        base = docs.select(
            F.col(id_col),
            token_count(F.col(text_col)).cast("int").alias("n_tokens"),
        )
        joined = base.join(top, id_col, "left").join(bstats, id_col, "left")
        n_tok = F.col("n_tokens")
        # null text ⟹ n_tokens null (size(null array)): every gram column
        # is null there, exactly like size(null grams) was before the
        # rewrite
        n2 = F.when(n_tok.isNotNull(), F.coalesce(F.col("__n2"), F.lit(0)))
        nd2 = F.when(
            n_tok.isNotNull(),
            F.coalesce(F.col("__n2") - F.col("__nd2"), F.lit(0)),
        )
        topc = F.coalesce(F.col("top_term_count"), F.lit(0))
        return joined.select(
            F.col(id_col),
            "n_tokens",
            topc.alias("top_term_count"),
            F.when(n_tok > 0, topc.cast("double") / n_tok).alias(
                "top_term_frac"
            ),
            n2.alias("n_2grams"),
            nd2.alias("n_dup_2grams"),
            F.when(n2 > 0, nd2.cast("double") / n2).alias(
                "dup_2gram_frac"
            ),
        )

    # The per-doc repetition table is the Gopher-rules quality artifact a
    # filtering pipeline materializes once per corpus (the batch-9/10
    # scored-stream discipline): one narrow row per doc, 5 ints + 2
    # doubles.
    return cached_index(
        plan_key(docs, "repetition_stats", id_col, text_col), _build
    )


#: default split fractions: cumulative per-mille thresholds over the hash
DEFAULT_SPLITS = (("train", 980), ("val", 990), ("test", 1000))


def _split_bucket(salt: str, key):
    """The salted per-mille hash bucket of a key column, in [0, 1000)."""
    return md5_int60(F.concat(F.lit(salt), F.lit(":"), key.cast("string"))) % 1000


def _split_col(splits: tuple, salt: str, key):
    """The split name of each row: the first ``(name, upper)`` whose
    upper exceeds the row's salted bucket of ``key``.

    ``splits`` must cover the full [0, 1000) hash range with strictly
    increasing uppers ending at exactly 1000 — otherwise documents
    hashing above the last bound would silently get a NULL split and
    leak out of every partition."""
    uppers = [upper for _, upper in splits]
    if any(b <= a for a, b in zip(uppers, uppers[1:])) or uppers[-1] != 1000 or uppers[0] <= 0:
        raise ValueError(
            f"splits uppers must be strictly increasing in (0, 1000] and end at "
            f"exactly 1000 to cover the hash range; got {uppers}"
        )
    bucket = _split_bucket(salt, key)
    expr = None
    for name, upper in splits:
        cond = bucket < F.lit(upper)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr


def corpus_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    splits: tuple = DEFAULT_SPLITS,
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment: (id, split).

    The assignment hashes (salt, id) into [0, 1000) per-mille buckets and
    maps them through cumulative thresholds — so membership is a PURE
    FUNCTION of the id: stable across runs, machines, and engines (the
    DuckDB oracle reproduces it bit-for-bit), new documents never reshuffle
    old ones between splits, and changing the salt draws a fresh
    independent split. This is how large-corpus pipelines split — a
    ``randomSplit`` re-randomizes on every run and every partitioning,
    which silently leaks val into train across pipeline versions.

    Narrow projection, zero shuffles — scan-speed at any corpus size.

    ``splits`` must cover the full [0, 1000) hash range with strictly
    increasing uppers ending at exactly 1000 (``ValueError`` otherwise).
    """
    split = _split_col(splits, salt, F.col(id_col))
    return docs.select(F.col(id_col), split.alias("split"))


def vocab_growth(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-source vocabulary statistics — (source, n_docs, n_tokens,
    n_types, ttr_ppm): the Heaps'-law audit a corpus-composition report
    runs per slice. n_types vs n_tokens is the vocabulary-growth curve
    (V ≈ K·Nᵝ); ttr_ppm (type-token ratio in integer parts-per-million)
    flags degenerate slices — very low = template/boilerplate-dominated,
    very high = noise/IDs — before they reach the training mix.

    All-integer output (exact on any engine). Shape: the per-doc term
    table is the shared cached inverted index (``tf_index`` — no extra
    corpus pass); the doc→group map joins onto it; one group-level
    aggregate with two exact distincts, each expanding over the
    group-bounded (group, term)/(group, doc) column pairs.

    The doc→group map scales with DOCUMENT count (not a bounded
    dimension), so it is never broadcast — the equi-join shuffles on
    ``id_col``, which the cached index is already hashed on.
    """
    tf = tf_index(docs, id_col, text_col)
    groups = docs.select(F.col(id_col), F.col(group_col))
    return (
        tf.join(groups, id_col)
        .groupBy(group_col)
        .agg(
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.sum("tf").cast("long").alias("n_tokens"),
            F.countDistinct("term").cast("long").alias("n_types"),
        )
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            "n_types",
            F.expr("n_types * 1000000 div n_tokens").alias("ttr_ppm"),
        )
    )


def grouped_split(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    splits: tuple = DEFAULT_SPLITS,
    salt: str = "gsplit-v1",
) -> DataFrame:
    """Leakage-safe train/val/test assignment at GROUP granularity:
    (doc_id, group, split) where every document of a group (source
    domain, site, book, repository) lands in the SAME split — the split
    discipline contamination-aware pipelines use, because near-duplicates
    concentrate within a domain: a per-document hash split (``corpus_split``)
    puts one boilerplate variant in train and its twin in test, silently
    inflating eval. Hashing the group key instead makes cross-split
    near-dup pairs structurally impossible for within-group duplication.

    Same per-mille md5 bucketing as ``corpus_split`` (pure function of the
    group key: stable across runs/engines, new groups never reshuffle old
    ones), same full-range validation. Still a narrow zero-shuffle
    projection — the group key is already on the row.
    """
    split = _split_col(splits, salt, F.col(group_col))
    return docs.select(F.col(id_col), F.col(group_col), split.alias("split"))


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget packing for training-sequence assembly:
    (doc_id, n_tokens, shard, pack_id).

    Documents are sharded deterministically (hash mod ``n_shards``) and
    each shard packs independently — the distributed packing strategy: the
    per-shard window is the only sort, shards run in parallel, and raising
    n_shards with the cluster keeps one shard ≈ one task. Within a shard,
    documents are taken in id order and an EXCLUSIVE running token total
    quantized by ``budget`` assigns the pack: a pack may overflow by at
    most its last document (the standard greedy-quantized contract —
    exact bin packing is NP-hard and order-destroying, and trainers pad or
    chunk the overflow anyway). All-integer output: exact on any engine.
    """
    from pyspark.sql import Window

    n_tok = token_count(F.col(text_col))
    shard = (
        md5_int60(F.concat(F.lit("shard:"), F.col(id_col).cast("string")))
        % n_shards
    ).cast("int")
    base = docs.select(
        F.col(id_col),
        n_tok.cast("int").alias("n_tokens"),
        shard.alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    pack_in_shard = F.floor(excl.cast("double") / F.lit(float(budget))).cast("int")
    return base.select(
        id_col,
        "n_tokens",
        "shard",
        (F.col("shard").cast("long") * 1_000_000 + pack_in_shard).alias("pack_id"),
    )


def top_terms(
    docs: DataFrame,
    k: int = 10,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum heavy-hitter vocabulary: the ``k`` terms with the
    highest document frequency in each stratum — (stratum, term, df, rnk),
    ties → lexicographically first term.

    Vocabulary analytics for corpus QA (stop-word drift, boilerplate
    tokens, contamination tells). Shape: distinct-within-doc terms stay a
    narrow array projection (``array_distinct`` before the explode, so df
    counts documents, not occurrences); one partial-agg shuffle on
    (stratum, term); the top-k window runs over the aggregated vocabulary
    partitioned by stratum. At open-vocabulary scale the window input is
    vocabulary-sized, not corpus-sized — the aggregate did the heavy
    lifting map-side.
    """
    terms = _term_stream(docs, text_col, "term", strata_col, distinct=True)
    df_tbl = terms.groupBy(strata_col, "term").agg(
        F.count(F.lit(1)).alias("df")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.col("df").desc(), F.col("term").asc()
    )
    return (
        df_tbl.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(strata_col, "term", F.col("df").cast("long"), "rnk")
    )


def source_overlap(
    docs: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary overlap between corpus strata: (stratum_a,
    stratum_b, n_terms_a, n_terms_b, n_shared, jaccard) for every stratum
    pair sharing at least one term — the corpus-governance matrix that
    flags near-duplicate sources and measures domain diversity before
    mixing.

    Scale shape: the per-stratum vocabulary is ONE distinct over
    (stratum, term) — corpus-sized input, vocabulary-sized output, built
    once and persisted (three consumers: sizes and both join sides). The
    overlap self-join is on ``term``, and its per-key fan-out is bounded
    by |strata|² BY CONSTRUCTION (a term appears at most once per
    stratum after the distinct), so stop words cannot skew a task — the
    hazard an all-pairs doc-level design would have. Stratum sizes are a
    |strata|-row broadcast. Jaccard is one double division of exact
    BIGINT counts — engine-deterministic. Zero-overlap pairs are absent
    (inner join), mirroring the oracle.
    """
    from ..index_cache import cached_index, plan_key

    def _build_vocab() -> DataFrame:
        # persisted REPARTITIONED ON TERM: the overlap self-join below is
        # a term equi-join of this table with itself, so baking the join
        # partitioning into the artifact lets every warm execution join
        # exchange-free (the distinct's (stratum, term) partitioning
        # would force both sides through a shuffle per run)
        return (
            _term_stream(docs, text_col, "term", strata_col, distinct=True)
            .select(F.col(strata_col).alias("stratum"), "term")
            .distinct()
            .repartition("term")
        )

    vocab = cached_index(
        plan_key(docs, "stratum_vocab", strata_col, text_col), _build_vocab
    )
    sizes = vocab.groupBy("stratum").agg(F.count(F.lit(1)).alias("n_terms"))
    a = vocab.select(F.col("stratum").alias("stratum_a"), "term")
    b = vocab.select(F.col("stratum").alias("stratum_b"), "term")
    shared = (
        a.join(b.hint("shuffle_hash"), "term")
        .filter(F.col("stratum_a") < F.col("stratum_b"))
        .groupBy("stratum_a", "stratum_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = F.broadcast(
        sizes.select(
            F.col("stratum").alias("stratum_a"),
            F.col("n_terms").alias("n_terms_a"),
        )
    )
    sb = F.broadcast(
        sizes.select(
            F.col("stratum").alias("stratum_b"),
            F.col("n_terms").alias("n_terms_b"),
        )
    )
    union_size = (
        F.col("n_terms_a") + F.col("n_terms_b") - F.col("n_shared")
    )
    return (
        shared.join(sa, "stratum_a")
        .join(sb, "stratum_b")
        .select(
            "stratum_a",
            "stratum_b",
            "n_terms_a",
            "n_terms_b",
            "n_shared",
            (F.col("n_shared").cast("double") / union_size).alias("jaccard"),
        )
    )


def _ntile(
    docs: DataFrame,
    n_tiles: int,
    rank_tag: str,
    scored,
    order_col: str,
    total,
    id_col: str,
    text_col: str,
):
    """``NTILE(n_tiles) OVER (ORDER BY order_col, id_col)`` without a
    window: returns (ranked, tile) — the frame ``scored()`` with a
    1-based ``__rank`` column, and the tile column over it.

    NTILE over a corpus cannot run as a window: Catalyst plans an
    un-partitioned ORDER BY window as one task holding the entire
    corpus. Instead the global position comes from
    ``functions.global_row_number`` (range repartition + per-partition
    offsets — fully distributed), and the tile is pure integer
    arithmetic on (rank, total): the first ``total % n`` tiles take
    ``total//n + 1`` rows, the rest ``total//n`` — exactly SQL NTILE
    semantics, so the DuckDB oracle can use the real NTILE. The ranked
    frame is a registry entry under ``rank_tag`` (repeated tile
    queries reslice it instead of re-running the range sort + offset
    passes); ``total(ranked)`` is its row count.

    ``n_tiles`` is checked first: ranking and counting are eager jobs,
    and ``n_tiles <= 0`` would otherwise fail only after them
    (``divmod`` by zero) or assign nonsense tiles."""
    if n_tiles < 1:
        raise ValueError(f"n_tiles must be >= 1, got {n_tiles}")
    from ..functions import global_row_number
    from ..index_cache import cached_index, plan_key

    ranked = cached_index(
        plan_key(docs, rank_tag, id_col, text_col),
        lambda: global_row_number(
            scored(), [order_col, id_col], rank_col="__rank"
        ),
    )
    q, rem = divmod(total(ranked), n_tiles)
    big = q + 1
    r0 = F.col("__rank") - 1  # 0-based
    cut = rem * big
    if q == 0:  # fewer rows than tiles: each row its own tile
        tile = r0 + 1
    else:
        tile = F.when(
            F.col("__rank") <= cut, F.floor(r0 / F.lit(big)) + 1
        ).otherwise(F.floor((r0 - cut) / F.lit(q)) + rem + 1)
    return ranked, tile.cast("int")


def quality_deciles(
    docs: DataFrame,
    n_tiles: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus bucketing by quality: (doc_id, quality_score, decile) with
    ``decile`` ∈ [1, n_tiles] assigned exactly like ``NTILE(n) OVER
    (ORDER BY quality_score, doc_id)`` — the standard pre-training move
    of keeping/weighting the top quality buckets.

    Distributed NTILE over the session-cached quality rank (see
    ``_ntile``).
    """
    ranked, tile = _ntile(
        docs,
        n_tiles,
        "quality_rank",
        lambda: quality_scores(docs, id_col, text_col).select(
            id_col, "quality_score"
        ),
        "quality_score",
        lambda _: _corpus_count(docs),
        id_col,
        text_col,
    )
    return ranked.select(id_col, "quality_score", tile.alias("decile"))


def curate_corpus(
    docs: DataFrame,
    min_quality: float = 0.25,
    splits: tuple = DEFAULT_SPLITS,
    salt: str = "split-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The curation pipeline END-TO-END in one composed plan: quality
    filter → exact dedup (lowest-id survivor per normalized-content
    hash) → deterministic train/val/test split → token budget —
    (doc_id, quality_score, n_tokens, split).

    This is the operator-composition story: every stage is the same
    expression its standalone operator uses (``_profile_quality``,
    normalized-text md5, the salted per-mille split), so Catalyst fuses
    the whole pipeline into ONE narrow scan + ONE shuffle (the dedup
    aggregate's content-hash partitioning) — no intermediate
    materialization, no second pass over the corpus. Filter order
    matters at scale: the quality gate runs BEFORE the dedup shuffle,
    so rejected docs never enter the exchange.

    Dedup is a per-hash MIN over (id, quality, n_tokens) STRUCTS, not a
    row_number window (r13): the struct's first field is the unique doc
    id, so min(struct) IS the lowest-id survivor row — algebraically the
    window's rn=1 row — but a hash aggregate gets map-side partial
    aggregation (duplicate mass collapses before the exchange) and skips
    the window's per-partition sort. Critically the TEXT column never
    enters the exchange: every text-derived output (quality, token
    count, content hash) is computed scan-side, so the shuffle ships
    ~40 bytes/row instead of document bodies (guide §2.3 — shuffle
    metadata, not payloads).
    """
    split = _split_col(splits, salt, F.col(id_col))
    # The quality gate is applied INSIDE the aggregate input (min ignores
    # nulls), not as a pre-aggregate filter: a Filter above the projection
    # would be pushed below it and re-evaluate the quality expression a
    # second time per row (guide §4.4's duplicated-expensive-expression
    # trap, visible as the doubled condition in the r12 plan); inside one
    # projection, codegen's common-subexpression elimination evaluates it
    # once. Hashes whose docs ALL fail quality surface as null groups and
    # are dropped after the aggregate. r13: every text-derived input
    # (hash, quality ints, token count) now reads from the session-cached
    # per-doc profile (_doc_profile) — the scan-side computation is paid
    # once per corpus, and the exchange still ships ~40-byte rows.
    q = _profile_quality()
    kept = _doc_profile(docs, id_col, text_col).select(
        F.col("content_md5").alias("__md5"),
        F.when(
            q >= min_quality,
            F.struct(
                F.col(id_col).alias("__id"),
                q.alias("__q"),
                F.col("__wc").alias("__nt"),
            ),
        ).alias("__row"),
    )
    survivors = (
        kept.groupBy("__md5")
        .agg(F.min("__row").alias("__keep"))
        .filter(F.col("__keep").isNotNull())
        .select(
            F.col("__keep.__id").alias(id_col),
            F.col("__keep.__q").alias("quality_score"),
            F.col("__keep.__nt").alias("n_tokens"),
        )
    )
    return survivors.select(
        id_col,
        "quality_score",
        "n_tokens",
        split.alias("split"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-stride sliding-window chunking: each document becomes
    overlapping ``chunk_tokens``-token windows advancing by
    ``chunk_tokens − overlap`` — (doc_id, chunk_id, n_tokens,
    chunk_text), the segmentation every embedding/RAG indexing pipeline
    runs before vectorizing and long-document pretraining runs before
    packing.

    Pure narrow plan: tokenize once per row, generate the window starts
    with F.sequence, explode, slice — all codegen array expressions, no
    shuffle, no UDF; output size is rows × ⌈n/stride⌉, the only cost.
    Every start < n_tokens emits (the tail window is shorter; callers
    filter on n_tokens if they need full windows only). Deterministic:
    same whitespace tokenizer as token_counts, mirrored in the oracle.
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})"
        )
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    base = docs.select(
        id_col, toks.alias("__toks"), F.size(toks).alias("__n")
    ).filter(F.col("__n") > 0)
    starts = F.sequence(
        F.lit(0), F.col("__n") - 1, F.lit(step)
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens)
    return (
        base.select(
            id_col, "__toks", F.explode(starts).alias("__start")
        )
        .select(
            id_col,
            (F.col("__start") / step).cast("int").alias("chunk_id"),
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def _chunk_stream(
    docs: DataFrame,
    chunk_tokens: int,
    overlap: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The disjoint/striding chunk stream as a session-cached artifact
    (r13). Both boilerplate gates re-ran the tokenize+explode+slice
    chunker per execution (``scrub_boilerplate`` even re-persisted it
    per CALL through ``tracked_persist``); the stream for a fixed
    (corpus, width, overlap) is the line-dedup family's span-stream
    analogue (dedup.span_index precedent — corpus-payload-sized but
    byte-budgeted under the index_cache LRU).
    """
    from ..index_cache import cached_index, plan_key

    return cached_index(
        plan_key(
            docs, "chunk_stream", id_col, text_col, chunk_tokens, overlap
        ),
        lambda: chunk_documents(docs, chunk_tokens, overlap, id_col, text_col),
    )


def _repeated_chunks(
    docs: DataFrame,
    chunk_tokens: int,
    min_docs: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The SPARSE repeated-chunk table (chunk_text, n_docs,
    n_occurrences), n_docs ≥ min_docs — the boilerplate SET a line-dedup
    deployment materializes once per corpus (the ``_dup_groups``
    discipline: bounded by boilerplate mass, not corpus size).
    Session-cached; shared by ``boilerplate_chunks`` (presents it) and
    ``scrub_boilerplate`` (anti-joins against it)."""
    from ..index_cache import cached_index, plan_key

    def _build() -> DataFrame:
        ch = _chunk_stream(docs, chunk_tokens, 0, id_col, text_col)
        return (
            ch.groupBy("chunk_text")
            .agg(
                F.countDistinct(id_col).alias("n_docs"),
                F.count(F.lit(1)).alias("n_occurrences"),
            )
            .filter(F.col("n_docs") >= min_docs)
        )

    return cached_index(
        plan_key(
            docs,
            "repeated_chunks",
            id_col,
            text_col,
            chunk_tokens,
            min_docs,
        ),
        _build,
    )


def boilerplate_chunks(
    docs: DataFrame,
    chunk_tokens: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document duplicate detection: disjoint ``chunk_tokens``-token
    windows repeated across ≥ ``min_docs`` documents — (chunk_text,
    n_docs, n_occurrences). The chunk-granularity form of line-level
    dedup: repeated navigation/footer/template fragments show up here
    long before whole documents are near-dups.

    Shape: the chunker's narrow explode, then ONE aggregate keyed on the
    chunk text — hash-partitioned, map-side combined, and the HAVING
    filter keeps only the (sparse) repeated tail. Granularity is the
    chunk width: smaller windows catch shorter boilerplate at more
    rows-in-flight. Both the chunk stream and the sparse repeated set
    are session-cached artifacts shared with ``scrub_boilerplate``
    (r13 — see ``_chunk_stream`` / ``_repeated_chunks``).
    """
    return _repeated_chunks(docs, chunk_tokens, min_docs, id_col, text_col)


def scrub_boilerplate(
    docs: DataFrame,
    chunk_tokens: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove cross-document boilerplate IN PLACE: re-chunk each doc
    disjointly, drop every chunk whose text repeats in ≥ ``min_docs``
    documents, and reassemble the survivors in order — (doc_id,
    clean_text, n_kept_chunks). Documents that were pure boilerplate
    vanish (no surviving chunk), exactly like line-dedup pipelines.

    Shape: chunker explode → anti join against the (sparse) boilerplate
    set on the chunk text — broadcast-able right side by construction —
    → one per-doc aggregate whose ordering is handled engine-side
    (array_sort over (chunk_id, text) structs: deterministic regardless
    of partial-agg arrival order, no window needed).

    r13: both inputs are the session-cached artifacts shared with
    ``boilerplate_chunks`` (``_chunk_stream`` + ``_repeated_chunks``)
    instead of a per-CALL ``tracked_persist`` of a fresh chunker pass —
    a warm execution re-chunks nothing and the anti join's build side
    broadcasts from the sparse artifact's known stats.
    """
    ch = _chunk_stream(docs, chunk_tokens, 0, id_col, text_col)
    bp = _repeated_chunks(
        docs, chunk_tokens, min_docs, id_col, text_col
    ).select("chunk_text")
    kept = ch.join(bp, "chunk_text", "left_anti")
    pieces = F.array_sort(
        F.collect_list(F.struct("chunk_id", "chunk_text"))
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(pieces, lambda p: p["chunk_text"]), " "
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("n_kept_chunks"),
    )


def doc_keyterms(
    docs: DataFrame,
    k: int = 3,
    digits: int = 9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms by TF-IDF —
    (doc_id, term, tfidf, rnk). The standard cheap keyterm pass before
    tagging/clustering/retrieval-filter stages.

    Ranking runs over the ROUNDED weight (``digits`` decimals): the raw
    ln differs between engines in the last ulp, so ordering by it could
    flip ranks on near-ties — rounding collapses sub-1e-9 differences
    and the (weight desc, term asc) tie-break makes the selection fully
    deterministic on both engines, which is what puts a float-scoring
    operator back inside the exact-hash gate.

    Shape: the cached TF index → one window partitioned by the doc key
    over the (already vocabulary-joined) weights — the per-doc rank
    input is each doc's own term list, so the window never sees
    corpus-wide state. The ranked top-``k`` table (≤ k rows per doc —
    the keyterm TAG table an indexing pipeline materializes once per
    corpus) is session-cached (r13): the vocabulary join + per-doc
    window otherwise re-ran per execution.
    """
    from pyspark.sql import Window

    from ..index_cache import cached_index, plan_key

    def _build() -> DataFrame:
        weighted = tfidf_weights(docs, id_col, text_col).withColumn(
            "tfidf", F.round("tfidf", digits)
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("tfidf").desc(), F.col("term").asc()
        )
        return (
            weighted.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= k)
            .select(id_col, "term", "tfidf", "rnk")
        )

    return cached_index(
        plan_key(docs, "doc_keyterms", id_col, text_col, k, digits), _build
    )


def _vocab_count(
    docs: DataFrame, uni: DataFrame, id_col: str, text_col: str
) -> int:
    """|vocabulary| — a registry value: the Laplace denominator is a
    per-call ``count()`` action otherwise (the r7 perf hole)."""
    from ..index_cache import cached_value, plan_key

    return cached_value(plan_key(docs, "vocab_n", id_col, text_col), uni.count)


def bigram_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document bigram counts — (doc_id, w1, w2, tf_b) — the bigram
    twin of ``tf_index``: built once per (source files, plan, columns) and
    session-persisted (index_cache). The token explode + (doc, bigram)
    shuffle are paid at build time only; ``bigram_lm_scores`` (and any
    future phrase-statistics operator) serve from the cached postings.
    Documents with <2 tokens produce no rows."""
    from ..index_cache import cached_index, plan_key

    def _build() -> DataFrame:
        t = tokens(F.col(text_col))
        base = docs.select(F.col(id_col), t.alias("__t")).filter(
            F.size("__t") >= 2
        )
        bi = base.select(
            id_col,
            F.explode(
                F.arrays_zip(
                    F.expr("slice(__t, 1, size(__t) - 1)").alias("w1"),
                    F.expr("slice(__t, 2, size(__t) - 1)").alias("w2"),
                )
            ).alias("b"),
        ).select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        return bi.groupBy(id_col, "w1", "w2").agg(
            F.count(F.lit(1)).alias("tf_b")
        )

    return cached_index(
        plan_key(docs, "bigram_index", id_col, text_col), _build
    )


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Statistical language-model quality scoring (the CCNet/KenLM-style
    filter, reduced to a corpus-trained bigram model): per document the
    average negative log-probability of its token bigrams under
    Laplace-smoothed corpus statistics — (doc_id, n_bigrams,
    avg_neg_logprob). Low = fluent/common phrasing, high = gibberish or
    out-of-domain; pipelines threshold or bucket on it exactly like a
    perplexity filter.

    ENGINE-EXACT despite the ln: each bigram's log-probability is
    quantized to integer NANO-NATS (round(ln·10⁹) as BIGINT) before any
    aggregation, so the per-doc reduction is an integer sum — immune to
    float summation order across partitions AND to the cross-engine
    last-ulp ln divergence (a 1-ulp input wiggle moves the rounded
    integer only on a measure-zero boundary; the tfidf precedent,
    hardened from per-value rounding to integer algebra). Identical
    occurrences share one ilp value, so summing per occurrence equals
    multiplying by the per-doc bigram count — the scoring runs over the
    COUNTED bigram table, never the raw occurrence stream.

    Shape: everything corpus-derived is a session-cached index artifact
    (index_cache, keyed on the RAW source frame): the per-doc bigram
    counts (``bigram_index`` — the one token explode + one shuffle, paid
    once per corpus), the corpus bigram totals, the unigram totals
    (folded from ``tf_index``'s postings), and the |V| scalar. A warm
    call is therefore just the scoring join over in-memory tables plus
    one per-doc integer aggregate — the same steady-state cost as the
    other index-backed textops (r7 cached only tf_index and re-paid the
    bigram explode, two count shuffles, and a count() action per call).

    The folded SCORE table is hinted for a broadcast join, which assumes
    a natural-language corpus whose bigram vocabulary is bounded (~|V|·k,
    millions at worst) and fits a broadcast; the planner cannot estimate
    the aggregates' size itself.

    Documents with <2 tokens have no bigrams and are absent, mirrored by
    the oracle.

    The per-doc scored table itself — one narrow row per document, the
    LM quality-score table a filtering pipeline materializes once per
    trained model (the ``classifier_scores`` precedent) — is
    session-cached too: without it every execution re-broadcast the
    |distinct-bigrams|-sized score table and re-ran the corpus-sized
    scoring join over the same cached inputs (guide §1.2).
    """
    from ..index_cache import cached_index, plan_key

    return cached_index(
        plan_key(docs, "lm_scored", id_col, text_col),
        lambda: _bigram_lm_scores_build(docs, id_col, text_col),
    )


def _lm_counts(
    docs: DataFrame,
    train: DataFrame,
    prefix: str,
    tag: tuple,
    id_col: str,
    text_col: str,
):
    """The bigram LM's count model trained on ``train`` — (bc, uni): the
    corpus bigram counts (w1, w2, cb) folded from ``bigram_index`` and
    the unigram counts (w1, cu) folded from ``tf_index``. Both are
    registry entries keyed on the RAW ``docs`` frame as
    ``<prefix>bigram_counts`` / ``<prefix>unigram_counts`` plus ``tag``
    (``train`` may be a filter of ``docs``), so every operator reading
    one model reads one artifact per key."""
    from ..index_cache import cached_index, plan_key

    bc = cached_index(
        plan_key(docs, f"{prefix}bigram_counts", *tag, id_col, text_col),
        lambda: bigram_index(train, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.sum("tf_b").alias("cb")),
    )
    uni = cached_index(
        plan_key(docs, f"{prefix}unigram_counts", *tag, id_col, text_col),
        lambda: tf_index(train, id_col, text_col)
        .groupBy("term")
        .agg(F.sum("tf").alias("cu"))
        .withColumnRenamed("term", "w1"),
    )
    return bc, uni


def _nano_nats(cb, cu, vocab_n: int):
    """The Laplace-smoothed bigram log-probability ln((cb + 1) /
    (cu + |V|)) quantized to integer nano-nats: round(ln · 10⁹) as
    BIGINT (see ``bigram_lm_scores``)."""
    return F.round(
        F.log((cb + F.lit(1.0)) / (cu + F.lit(float(vocab_n)))) * F.lit(1e9)
    ).cast("long")


def _lm_doc_scores(joined: DataFrame, ilp, id_col: str) -> DataFrame:
    """(id, n_bigrams, avg_neg_logprob) from per-doc bigram counts
    (id, tf_b) joined to their per-bigram nano-nat value ``ilp``: an
    integer sum per doc, one division at the end."""
    scored = joined.select(
        id_col, "tf_b", (F.col("tf_b") * ilp).alias("__ilp")
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf_b").cast("long").alias("n_bigrams"),
        (
            -F.sum("__ilp").cast("double") / F.lit(1e9) / F.sum("tf_b")
        ).alias("avg_neg_logprob"),
    )


def _bigram_lm_scores_build(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    from ..index_cache import cached_index, plan_key

    bigrams = bigram_index(docs, id_col, text_col)
    bc, uni = _lm_counts(docs, docs, "", (), id_col, text_col)
    vocab_n = _vocab_count(docs, uni, id_col, text_col)
    # fold the ln into a VOCABULARY-sized score table (one nano-nat value
    # per distinct bigram, cached like the counts): the corpus-sized
    # scoring stream then does a hash probe + integer multiply per row
    # instead of a double divide + log — the ln count drops from
    # per-doc-bigram rows to distinct bigrams (r10: 1.60 s → sub-second
    # at sf1). Same doubles in, same ln op, so scores are bit-identical.
    ilp = cached_index(
        plan_key(docs, "lm_ilp", id_col, text_col),
        lambda: bc.join(uni, "w1").select(
            "w1",
            "w2",
            _nano_nats(F.col("cb"), F.col("cu"), vocab_n).alias("__ilp1"),
        ),
    )
    return _lm_doc_scores(
        bigrams.join(F.broadcast(ilp), ["w1", "w2"]), F.col("__ilp1"), id_col
    )


def cross_lm_scores(
    docs: DataFrame,
    ref_sources,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """CCNet-style CROSS-corpus LM filtering: score every document under a
    bigram model trained ONLY on the reference slice (``source_col`` ∈
    ``ref_sources``) — (doc_id, n_bigrams, avg_neg_logprob). This is the
    actual CCNet/importance-filter deployment shape (``bigram_lm_scores``
    is the self-trained degenerate case): the LM is fit on a trusted
    corpus (Wikipedia in CCNet) and candidate web text is ranked by how
    surprising it is under that model — in-domain text scores low,
    out-of-domain/gibberish scores high.

    Unseen mass is where cross-corpus differs from self-scoring: a scored
    bigram absent from the reference gets cb = 0 and an unseen context
    word cu = 0, so Laplace smoothing — p = (cb+1)/(cu+|V_ref|) with
    |V_ref| the REFERENCE vocabulary — must ride on LEFT joins with
    integer COALESCE, never inner joins (the self-trained operator can use
    inner joins because every scored bigram was counted). Scores stay
    engine-exact via the same integer nano-nat quantization before the
    per-doc sum.

    Scale shape: the reference counts are (small-corpus) session-cached
    index artifacts; the scored stream is the whole-corpus ``bigram_index``
    (shared with the self-trained scorer — no new corpus pass); both
    reference score tables broadcast, which assumes the reference
    vocabulary fits a broadcast. Documents with <2 tokens have no bigrams
    and are absent, mirrored by the oracle.

    Like ``bigram_lm_scores``, the per-doc scored table is session-cached
    per (corpus, reference slice): each execution otherwise re-broadcast
    both reference score tables and re-ran the two corpus-sized LEFT
    probes over the same cached inputs (guide §1.2).
    """
    from ..index_cache import cached_index, plan_key

    ref_key = tuple(sorted(ref_sources))
    return cached_index(
        plan_key(docs, "xlm_scored", source_col, ref_key, id_col, text_col),
        lambda: _cross_lm_scores_build(
            docs, ref_sources, id_col, text_col, source_col
        ),
    )


def _cross_lm_scores_build(
    docs: DataFrame,
    ref_sources,
    id_col: str,
    text_col: str,
    source_col: str,
) -> DataFrame:
    from ..index_cache import cached_index, plan_key

    ref = docs.filter(F.col(source_col).isin(list(ref_sources)))
    bigrams = bigram_index(docs, id_col, text_col)
    ref_tag = tuple(sorted(ref_sources))
    bc, uni = _lm_counts(
        docs, ref, "xlm_", (source_col, ref_tag), id_col, text_col
    )
    vocab_n = _vocab_count(ref, uni, id_col, text_col)
    if vocab_n < 1:
        raise ValueError(
            "cross_lm_scores: reference slice has an empty vocabulary — "
            "the Laplace denominator would be zero; check ref_sources"
        )
    # the three Laplace cases fold into reference-sized score tables (the
    # lm_ilp trick, split by miss level): seen bigram → per-(w1,w2) value;
    # unseen bigram with seen context → per-w1 value ln(1/(cu+V)); both
    # unseen → the constant ln(1/V) (a literal expression Catalyst
    # constant-folds — still the JVM ln on the same double). The
    # corpus-sized stream does two broadcast probes + COALESCE + integer
    # multiply, no per-row divide/log.
    ilp_ref = cached_index(
        plan_key(docs, "xlm_ilp_ref", source_col, ref_tag, id_col, text_col),
        lambda: bc.join(uni, "w1").select(
            "w1",
            "w2",
            _nano_nats(F.col("cb"), F.col("cu"), vocab_n).alias("__ilpr"),
        ),
    )
    ilp_ctx = cached_index(
        plan_key(docs, "xlm_ilp_ctx", source_col, ref_tag, id_col, text_col),
        lambda: uni.select(
            "w1", _nano_nats(F.lit(0), F.col("cu"), vocab_n).alias("__ilpc")
        ),
    )
    ilp_unseen = _nano_nats(F.lit(0), F.lit(0), vocab_n)
    return _lm_doc_scores(
        bigrams.join(F.broadcast(ilp_ref), ["w1", "w2"], "left").join(
            F.broadcast(ilp_ctx), "w1", "left"
        ),
        F.coalesce("__ilpr", "__ilpc", ilp_unseen),
        id_col,
    )


def lm_quality_buckets(
    docs: DataFrame,
    n_tiles: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Perplexity-bucketed corpus split (the CCNet head/middle/tail move,
    generalized to ``n_tiles``): (doc_id, n_bigrams, avg_neg_logprob,
    bucket) with ``bucket`` ∈ [1, n_tiles] assigned exactly like
    ``NTILE(n) OVER (ORDER BY avg_neg_logprob, doc_id)`` — bucket 1 is
    the most fluent (lowest LM negative log-probability) slice a
    pre-training mix keeps or upweights.

    Pure composition of two verified pieces: ``bigram_lm_scores``
    (session-cached LM artifacts; exact integer nano-nat sums, so the
    ordering key is engine-identical) and the distributed-NTILE
    arithmetic of ``quality_deciles`` (``_ntile``) — no un-partitioned
    ORDER BY window anywhere. Documents with <2 tokens have no bigrams,
    hence no score and no bucket (absent, mirrored by the oracle)."""
    from ..index_cache import cached_value, plan_key

    ranked, tile = _ntile(
        docs,
        n_tiles,
        "lm_quality_rank",
        lambda: bigram_lm_scores(docs, id_col, text_col),
        "avg_neg_logprob",
        lambda r: cached_value(
            plan_key(docs, "lm_scored_n", id_col, text_col), r.count
        ),
        id_col,
        text_col,
    )
    return ranked.select(
        id_col, "n_bigrams", "avg_neg_logprob", tile.alias("bucket")
    )


def doc_lengths(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token counts (doc_id, dl) derived from the inverted
    index — a session-cached artifact (index_cache) because every
    retrieval-scoring query over the same corpus re-reads it. Documents
    with zero tokens are absent (they can match no term anyway)."""
    from ..index_cache import cached_index, plan_key

    def _build() -> DataFrame:
        return (
            tf_index(docs, id_col, text_col)
            .groupBy(id_col)
            .agg(F.sum("tf").cast("long").alias("dl"))
        )

    return cached_index(
        plan_key(docs, "doc_lengths", id_col, text_col), _build
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance of every matching document for a fixed bag of query
    terms — (doc_id, n_hit, score). The retrieval scorer a training-data
    pipeline uses for eval-set construction / quality-targeted sampling
    (no counterpart in the reference — north-star scope like the rest of
    this module).

    score(d) = Σ_t ln(1 + (N − df + 0.5)/(df + 0.5))
                 · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Scale shape: the query terms are a predicate ON the session-cached
    inverted index (``tf_index`` — an isin filter into the cached scan,
    never a rebuild), df over the filtered postings is |query|-sized and
    broadcast back, doc lengths join from the cached ``doc_lengths``
    artifact, and avgdl rides along as a broadcast 1-row aggregate — so
    the whole scorer is one shuffle (the per-doc sum) over only the
    matching postings, independent of corpus width.

    Float discipline (the ``bigram_lm_scores`` pattern): the per-term
    score is snapped to integer nano-units BEFORE the per-doc sum —
    long addition is order-free where double addition is not, so the
    result is bit-identical to the DuckDB oracle regardless of partial-
    aggregation order; ln's last-ulp engine divergence is 6 orders of
    magnitude below the nano grid.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    n_docs = _corpus_count(docs)
    tf = tf_index(docs, id_col, text_col).filter(
        F.col("term").isin([str(t) for t in query_terms])
    )
    df_tbl = F.broadcast(
        tf.groupBy("term").agg(F.count(F.lit(1)).cast("int").alias("df"))
    )
    dl = doc_lengths(docs, id_col, text_col)
    sdl = F.broadcast(dl.agg(F.sum("dl").cast("double").alias("sdl")))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    comp = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0)
            - F.lit(b)
            + F.lit(b) * (F.col("dl") / (F.col("sdl") / F.lit(n_docs)))
        )
    )
    def _build() -> DataFrame:
        scored = (
            tf.join(df_tbl, "term")
            .join(dl, id_col)
            .crossJoin(sdl)
            .select(
                id_col,
                F.round(idf * comp * F.lit(1e9)).cast("long").alias("__iscore"),
            )
        )
        return scored.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("int").alias("n_hit"),
            F.round(F.sum("__iscore").cast("double") / F.lit(1e9), 9).alias(
                "score"
            ),
        )

    # The per-doc scored table for a FIXED term bag is the retrieval
    # family's serve-many artifact (the batch-9 classifier_scores
    # precedent): ``bm25_topk`` and ``hybrid_rrf_topk``'s lexical list
    # each re-ran the postings join + per-doc sum per execution. One
    # narrow row per MATCHING doc — bounded by the query terms' posting
    # lists, not the corpus — so it session-caches under the index_cache
    # byte budget.
    from ..index_cache import cached_index, plan_key

    key = plan_key(
        docs, "bm25_scores", id_col, text_col, k1, b, *sorted(
            str(t) for t in query_terms
        )
    )
    return cached_index(key, _build)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 retrieval — ``bm25_scores`` ordered (score DESC, doc_id
    ASC — the deterministic tie-break) and limited to ``k``. Catalyst
    plans the order+limit as TakeOrderedAndProject: a per-partition
    top-k then a k-row merge on the driver — no global sort, no single-
    partition window, the shape that survives a 100 TB corpus."""
    return (
        bm25_scores(docs, query_terms, k1, b, id_col, text_col)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(int(k))
    )


# ---------------------------------------------------------------------------
# Corpus-trained discriminative quality classifier (fasttext-lite)
# ---------------------------------------------------------------------------

#: held-out hash split for classifier training: 80% train / 20% eval
CLS_SPLITS = (("train", 800), ("eval", 1000))
CLS_SALT = "cls-v1"
#: weak-supervision label: good iff stopwords * factor >= words (ratio >= 1/16)
CLS_STOP_FACTOR = 16
#: drop terms seen in fewer than this many train documents
CLS_MIN_DF = 2


def classifier_doc_meta(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, label_good, split): the weak-supervision label (integer
    stopword-density rule — no float anywhere) plus the deterministic
    per-mille hash split (same md5 bucketing as ``corpus_split``, its own
    salt so the 80/20 classifier split is independent of the pipeline's
    980/10/10 split). Narrow projection over the session-cached per-doc
    profile (r13 — the stopword/token ints are the profile's columns)."""
    bucket = _split_bucket(CLS_SALT, F.col(id_col))
    return _doc_profile(docs, id_col, text_col).select(
        F.col(id_col),
        (F.col("__stop_en_raw") * CLS_STOP_FACTOR >= F.col("__wc"))
        .cast("int")
        .alias("label_good"),
        F.when(bucket < F.lit(CLS_SPLITS[0][1]), F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )


def classifier_weights(
    docs: DataFrame,
    min_df: int = CLS_MIN_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-term discriminative weights trained on the train split:
    (term, n_good, n_bad, weight) with weight ∈ {-1, 0, +1} by the EXACT
    integer cross-ratio sign:  sign(n_good·total_bad − n_bad·total_good)
    — the sign of the log-odds lift without computing any float log, so
    the trained model is bit-identical on every engine (safe from i64
    overflow to ~3e9 train docs per class).

    This is the fasttext-lite / DSIR-style pattern: a cheap heuristic
    labels a held-in split, token-level lift statistics become the model,
    and the model generalizes the heuristic to held-out data.

    Scale shape: postings come from the session-cached ``tf_index`` (the
    corpus explode+shuffle is paid once per session); the label/split
    table is a narrow scan joined on doc_id; the per-term aggregate is
    vocabulary-sized with map-side partial aggregation; the class-total
    aggregate is 1 row, broadcast. The trained table is itself a
    session-cached index artifact (a model is trained once and served,
    not re-fit per scoring query)."""
    from ..index_cache import cached_index, plan_key

    def _build() -> DataFrame:
        meta = classifier_doc_meta(docs, id_col, text_col)
        train = meta.filter(F.col("split") == "train").drop("split")
        posting = tf_index(docs, id_col, text_col).select(id_col, "term")
        tot = train.agg(
            F.coalesce(F.sum("label_good"), F.lit(0))
            .cast("long")
            .alias("n_good_docs"),
            F.coalesce(F.sum(F.lit(1) - F.col("label_good")), F.lit(0))
            .cast("long")
            .alias("n_bad_docs"),
        )
        stats = (
            posting.join(train, id_col)
            .groupBy("term")
            .agg(
                F.sum("label_good").cast("long").alias("n_good"),
                F.sum(F.lit(1) - F.col("label_good")).cast("long").alias("n_bad"),
            )
            .filter((F.col("n_good") + F.col("n_bad")) >= F.lit(int(min_df)))
        )
        lift = (
            F.col("n_good") * F.col("n_bad_docs")
            - F.col("n_bad") * F.col("n_good_docs")
        )
        return stats.join(F.broadcast(tot)).select(
            "term",
            "n_good",
            "n_bad",
            F.when(lift > 0, F.lit(1))
            .when(lift < 0, F.lit(-1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("weight"),
        )

    return cached_index(
        plan_key(docs, "classifier_weights", int(min_df), id_col, text_col), _build
    )


def _weighted_term_scores(
    base: DataFrame,
    posting: DataFrame,
    weights: DataFrame,
    id_col: str,
    *extra: str,
) -> DataFrame:
    """Shared scoring core: distinct (doc, term) postings × a trained
    (term, weight) table → per-doc (n_pos, n_neg, logit, pred_good) for
    every ``base`` row, then ``base``'s ``extra`` columns; a doc with no
    weighted terms scores 0 through the left join. Used by the batch
    held-out scorer and the streaming frozen-weights sink. The
    vocabulary-sized weight table is broadcast, which assumes a
    natural-language vocabulary that fits a broadcast."""
    w = weights.select("term", "weight")
    per_doc = (
        posting.join(F.broadcast(w), "term")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("weight") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(F.when(F.col("weight") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_neg"),
            F.sum("weight").cast("long").alias("logit"),
        )
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_pos", F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce("n_neg", F.lit(0)).cast("long").alias("n_neg"),
        F.coalesce("logit", F.lit(0)).cast("long").alias("logit"),
        (F.coalesce("logit", F.lit(0)) > 0).cast("int").alias("pred_good"),
        *extra,
    )


def classifier_score_with(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score ARBITRARY documents against an already-trained weight table:
    (doc_id, n_pos, n_neg, logit, pred_good) — the serving/streaming form
    of the classifier (no split filter, no label column, no dependence on
    the session-cached training index; tokenization is inline because the
    scored batch is typically transient). Docs with no weighted terms
    score 0 through the left join — never silently dropped."""
    posting = _term_stream(docs, text_col, "term", id_col).distinct()
    return _weighted_term_scores(docs.select(id_col), posting, weights, id_col)


def classifier_scores(
    docs: DataFrame,
    min_df: int = CLS_MIN_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Held-out scoring: (doc_id, n_pos, n_neg, logit, pred_good,
    label_good) for every EVAL-split document. The logit is the integer
    sum of ±1 term weights over the document's distinct terms; eval docs
    with no weighted terms score 0 via the left join (never silently
    dropped).

    The trained weight table is broadcast, which assumes a
    natural-language vocabulary that fits a broadcast (the
    ``term_frequencies`` df-side assumption).

    The scored eval table — one narrow row per eval-split document, the
    held-out score table a training pipeline materializes once per
    trained model — is session-cached (index_cache discipline): the
    ``classifier_scores`` gate and ``classifier_eval``'s confusion
    aggregate each re-ran the weighted-term scoring join per execution
    over the same cached weights and postings (guide §1.2)."""
    from ..index_cache import cached_index, plan_key

    return cached_index(
        plan_key(docs, "classifier_eval_scores", min_df, id_col, text_col),
        lambda: _classifier_scores_build(docs, min_df, id_col, text_col),
    )


def _classifier_scores_build(
    docs: DataFrame, min_df: int, id_col: str, text_col: str
) -> DataFrame:
    meta = classifier_doc_meta(docs, id_col, text_col)
    eval_meta = meta.filter(F.col("split") == "eval").drop("split")
    w = classifier_weights(docs, min_df, id_col, text_col)
    posting = tf_index(docs, id_col, text_col).select(id_col, "term")
    return _weighted_term_scores(eval_meta, posting, w, id_col, "label_good")


def classifier_eval(
    docs: DataFrame,
    min_df: int = CLS_MIN_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Held-out confusion matrix: (label_good, pred_good, n_docs) — the
    exact-integer evaluation of the trained classifier on the eval split.
    Four rows at most; accuracy/precision/recall derive from them."""
    return (
        classifier_scores(docs, min_df, id_col, text_col)
        .groupBy("label_good", "pred_good")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def token_budget_selection(
    docs: DataFrame,
    budget_tokens: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy quality-first corpus selection under a token budget: rank
    every document by (quality_score DESC, doc_id), take documents while
    the INCLUSIVE running token total stays ≤ ``budget_tokens`` —
    (doc_id, n_tokens, quality_score, cum_tokens). This is the "fill a
    100 B-token pre-training budget with the best data first" pass every
    LLM data pipeline ends with; the boundary document that would cross
    the budget is excluded (deterministic, engine-neutral cut).

    ``budget_tokens=None`` targets half the corpus total, taken for FREE
    from the prefix-sum's own per-partition totals (``return_total`` —
    no separate corpus aggregate job, so the default-budget path costs
    exactly the same two passes as an explicit budget). Scale shape: the
    global order + running total come from
    ``functions.global_running_sum`` (range repartition + bounded
    per-partition sum collect + narrow Arrow cumsum — NO un-partitioned
    window anywhere); the order key is the negated quality double
    (negation is IEEE-exact, so ascending(-q) ≡ descending(q) with
    identical ties), and the budget filter is a narrow predicate.
    """
    from ..functions import global_running_sum
    from ..index_cache import cached_index, cached_value, plan_key

    key = plan_key(docs, "token_budget_run", id_col, text_col)
    total = None

    def _build() -> DataFrame:
        nonlocal total
        # token count + quality read from the session-cached per-doc
        # profile (r13): identical expressions, no dedicated text scan
        base = _doc_profile(docs, id_col, text_col).select(
            F.col(id_col),
            F.col("__wc").cast("long").alias("n_tokens"),
            _profile_quality().alias("quality_score"),
        ).withColumn("__negq", -F.col("quality_score"))
        run, total = global_running_sum(
            base,
            ["__negq", id_col],
            "n_tokens",
            out_col="cum_tokens",
            return_total=True,
        )
        # the corpus total is a by-product of the build: keep it as a
        # registry value under the run's key, so the default budget never
        # pays a separate aggregate job
        cached_value(key, lambda: int(total))
        return run

    # the quality-ranked running-total stream is a session-cached index
    # artifact (the quality_deciles discipline): repeated budget cuts —
    # different budgets, bench warm passes — reslice the cached cumsum
    # instead of re-running the range sort + offset passes
    run = cached_index(key, _build)
    if budget_tokens is None:
        if total is None:
            # frame hit: the total is a registry value, or — if the value
            # store capped it away — the MAX of the inclusive cumsum, one
            # agg over the in-memory stream
            total = cached_value(
                key,
                lambda: run.agg(
                    F.coalesce(F.max("cum_tokens"), F.lit(0))
                ).collect()[0][0],
            )
        budget_tokens = int(total) // 2
    return run.filter(F.col("cum_tokens") <= int(budget_tokens)).select(
        id_col, "n_tokens", "quality_score", "cum_tokens"
    )


def quality_dup_crosstab(
    docs: DataFrame,
    n_tiles: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Curation dashboard crosstab: duplication rate per quality decile
    — (decile, n_docs, n_dup_docs, dup_ppm). The question every corpus
    audit asks before setting a quality cutoff: is low-quality content
    ALSO the duplicated content (cut once, win twice), or are the two
    filters independent axes? (Raffel et al.'s C4 and the RefinedWeb
    pipeline both report dedup × quality interactions.)

    Composition shape: the decile side serves from the session-cached
    quality rank (``quality_deciles``' cached index — no second corpus
    sort), the duplicate flag left-joins the sparse session-cached
    exact-dup group index shared with ``exact_duplicates`` /
    ``dedup_rate_by_source`` (r13: the former corpus-sized all-groups
    aggregate shipped every singleton hash through the join — the
    sparse >1-member side broadcasts instead, guide §3.1), and the two
    meet in ONE id-keyed join of two narrow (id, int) streams before an
    n_tiles-sized aggregate. ``dup_ppm`` is the exact integer ×10⁶
    floor division (BIGINT div on both engines).
    """
    from .dedup import _dup_groups

    deciles = quality_deciles(docs, n_tiles, id_col, text_col).select(
        F.col(id_col), "decile"
    )
    base = _doc_profile(docs, id_col, text_col).select(
        F.col(id_col),
        F.col("content_md5").alias("__h"),
    )
    groups = _dup_groups(docs, id_col, text_col).select(
        F.col("content_md5").alias("__h"),
        F.col("keeper_id").alias("__keeper"),
    )
    flagged = base.join(groups, "__h", "left").select(
        F.col(id_col),
        (
            F.col("__keeper").isNotNull()
            & (F.col(id_col) != F.col("__keeper"))
        )
        .cast("int")
        .alias("__dup"),
    )
    return (
        deciles.join(flagged, id_col)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("__dup"), F.lit(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.expr(
                "CAST(coalesce(sum(__dup), 0) AS BIGINT) * 1000000"
                " div count(1)"
            )
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("decile")
    )


def length_quantiles(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source document-length quartiles by EXACT DISTRIBUTED ORDER
    STATISTICS — (source, n_docs, q25, q50, q75), the corpus-composition
    report behind truncation budgets and source reweighting.

    Same machinery as ``events.robust_value_stats``: lengths collapse to
    a (group, length) frequency table (one fact shuffle, bounded by the
    distinct-length count), a per-group cumulative window over that
    AGGREGATE (``grouped_running_sum``) ranks it, and each quartile is
    the NEAREST-RANK PAIR — positions ⌊q·(n−1)⌋+1 and ⌈q·(n−1)⌉+1 in
    pure integer arithmetic, quartile = (v[p1]+v[p2])/2 — so the
    emitted value is either an exact integer or an exact .5, identical
    on both engines (no fractional interpolation weights to diverge).
    A per-group ORDER BY window over the FACTS would put a whole
    source's rows in one task; windowing the frequency table bounds
    each partition by the group's distinct-LENGTH count instead, and
    drops the flat range-repartition + collect + Arrow job chain the
    previous ``global_running_sum`` formulation paid (15.6× the paired
    oracle at sf0.1 for a tiny aggregate).

    Stage collapse (r11 carryover): the frequency table is bounded by
    the VALUE DOMAIN — Σ per-group distinct character lengths, not
    corpus rows — so it gathers to ONE partition after the aggregate.
    SinglePartition satisfies every downstream required distribution
    (the cumulative window, the per-group quartile aggregate, the
    presentation sort via sortWithinPartitions), collapsing the plan
    from five stages to three; what remains is the two-exchange floor
    (fact→frequency, frequency→gather), measured and pinned in
    PLANS.md/BUDGETS.json.
    """
    from ..functions import (  # noqa: F401
        gathered_sort,
        grouped_running_sum,
        token_count,
    )

    ev = docs.select(
        F.col(group_col).alias("__g"),
        F.length(F.col(text_col)).cast("long").alias("__len"),
    )
    counts = (
        ev.groupBy("__g", "__len")
        .agg(F.count(F.lit(1)).alias("__c"))
        .repartition(1)
    )
    j = grouped_running_sum(
        counts, ["__g"], ["__len"], "__c", out_col="__cum", total_col="__n"
    )
    prev = F.col("__cum") - F.col("__c")
    cum = F.col("__cum")

    def q2(a: int, d: int, name: str):
        # 2×quantile: nearest-rank pair at q = a/d over n values —
        # p1 = floor(a(n-1)/d)+1, p2 = ceil(a(n-1)/d)+1. Both engines
        # compute them with POSITIVE-ONLY division ((x + d − 1) div d
        # for the ceil): Spark's `div` truncates toward zero while
        # DuckDB's `//` floors, so the textbook -((-x)//d) ceil idiom
        # silently disagrees between engines on fractional positions
        # (caught by the nearest-rank-pair unit test, masked at the
        # gate SFs by adjacent equal lengths).
        p1 = F.expr(f"({a} * (__n - 1)) div {d} + 1")
        p2 = F.expr(f"({a} * (__n - 1) + {d} - 1) div {d} + 1")
        hits = (
            ((p1 > prev) & (p1 <= cum)).cast("long")
            + ((p2 > prev) & (p2 <= cum)).cast("long")
        )
        return F.sum(F.col("__len") * hits).alias(name)

    return (
        j.groupBy("__g")
        .agg(
            F.max("__n").alias("n_docs"),
            q2(1, 4, "__q25_2"),
            q2(1, 2, "__q50_2"),
            q2(3, 4, "__q75_2"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("n_docs").cast("long"),
            (F.col("__q25_2").cast("double") / 2.0).alias("q25"),
            (F.col("__q50_2").cast("double") / 2.0).alias("q50"),
            (F.col("__q75_2").cast("double") / 2.0).alias("q75"),
        )
        # already SinglePartition end-to-end: an in-partition sort is a
        # total order with zero additional exchange
        .sortWithinPartitions(group_col)
    )


def bigram_pmi_topk(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining (Manning & Schütze ch. 5): the top-``k``
    bigrams by pointwise-mutual-information LIFT — (w1, w2, cb,
    lift_milli), lift = P(w1w2)/(P(w1)·P(w2)) ≈ cb·N/(c1·c2) — the
    phrase-discovery primitive behind tokenizer merge seeding and
    stop-phrase lists. ``min_count`` is the standard PMI noise gate
    (rare pairs otherwise dominate the ranking).

    Engine-exact: lift is emitted as the INTEGER milli-lift
    cb·N·1000 div (c1·c2) — no log, no double ratio — so the ranking
    and the k boundary hash-gate (ties break on the bigram itself).
    Overflow headroom: cb·N·1000 < 2^63 holds to ~10⁹-token corpora
    with top-collocation counts ~10⁶; past that, lift the expression
    to DECIMAL(38,0) (the DuckDB oracle already computes in HUGEINT).

    Shape: serves ENTIRELY from session-cached index artifacts shared
    with the LM family (``bigram_counts``, ``unigram_counts`` — vocab-
    sized); the unigram table joins twice, broadcast on the
    bigram_lm_scores assumption that the vocabulary fits a broadcast, and
    the top-k collapses to TakeOrderedAndProject.
    """
    from ..index_cache import cached_value, plan_key

    bc, uni = _lm_counts(docs, docs, "", (), id_col, text_col)
    # the corpus token total N is a registry value: a driver collect
    # per call otherwise
    n_tokens = cached_value(
        plan_key(docs, "pmi_n_tokens", id_col, text_col),
        lambda: int(
            uni.agg(F.coalesce(F.sum("cu"), F.lit(0))).collect()[0][0]
        ),
    )
    u1 = uni.select(F.col("w1"), F.col("cu").alias("__c1"))
    u2 = uni.select(F.col("w1").alias("w2"), F.col("cu").alias("__c2"))
    return (
        bc.filter(F.col("cb") >= min_count)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select(
            "w1",
            "w2",
            F.col("cb").cast("long"),
            F.expr(f"cb * CAST({n_tokens} AS BIGINT) * 1000"
                   " div (__c1 * __c2)")
            .cast("long")
            .alias("lift_milli"),
        )
        .orderBy(F.desc("lift_milli"), "w1", "w2")
        .limit(k)
    )
