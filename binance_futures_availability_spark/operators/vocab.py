"""Distributed BPE (byte-pair-encoding) vocabulary training.

North-star extension (no reference counterpart): the tokenizer-training
pass a pre-training corpus pipeline runs before packing/budgeting. The
classic BPE trainer shape maps exactly onto Spark's strengths:

- ONE corpus-scale pass builds the word-frequency table (token explode +
  map-side-combined groupBy — the same aggregate shape as ``tf_index``);
  100 TB of text collapses to a vocabulary-sized table (natural-language
  word types: ~1e6-1e8 rows), which every merge round then iterates on.
- Each merge round is two bounded jobs over that cached table: a pair-count
  aggregate (map-side combine, result is pair-vocabulary-sized) and a
  single-row argmax collect (count desc, then lexicographic — fully
  deterministic), followed by a narrow higher-order-function rewrite of the
  symbol arrays. No corpus re-scan, no shuffle growth with rounds.
- Lineage is truncated with ``localCheckpoint`` every few rounds so a
  500-merge training run doesn't accumulate a 1000-stage plan.

``bpe_pair_counts`` (round-0 statistics) is exactly SQL-expressible and
oracle-gated; the iterative ``bpe_merges`` is gated rows-only plus an exact
pytest comparison against an independent pure-Python BPE reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textops import _term_stream

#: truncate lineage every this many merge rounds
_CHECKPOINT_EVERY = 4

MERGE_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the corpus's word-frequency table — the ONLY
    corpus-scale pass in BPE training (same whitespace tokenizer as
    ``tf_index``; empty tokens dropped)."""
    words = _term_stream(docs, text_col, "word")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _pair_counts(syms: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency over a
    (syms: array<string>, freq) table. ``transform(sequence(...))``
    keeps pair generation a narrow codegen expression — the aggregate is
    pair-vocabulary-sized with map-side combine."""
    # IF guard: sequence(1, 0) in Spark is the DESCENDING [1, 0], so a
    # single-symbol word would fabricate a (syms[0], NULL) pair without it
    pairs = syms.select(
        F.col("freq"),
        F.explode(
            F.expr(
                "IF(size(syms) < 2, array(), "
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(syms[i-1] AS left, syms[i] AS right)))"
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.left", "p.right").agg(
        F.sum("freq").cast("long").alias("pair_count")
    )


def bpe_pair_counts(docs: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Top-k adjacent character-pair counts over the word-frequency table —
    BPE round 0, the exactly-SQL-expressible statistic the oracle gates.

    Deterministic order: count desc, then (left, right) lexicographic.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    wf = word_freqs(docs, text_col)
    syms = wf.select(F.split("word", "").alias("syms"), "freq")
    counts = _pair_counts(syms)
    return (
        counts.orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
        .limit(k)
        .select("left", "right", "pair_count")
    )


def _merge_expr(left: str, right: str):
    """Left-to-right non-overlapping merge of the adjacent pair
    (left, right) in a symbol array, as a fold: standard BPE application
    semantics (after a merge the new token does not immediately re-merge
    with the following symbol within the same round)."""
    merged = left + right
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    spark: SparkSession | None = None,
) -> DataFrame:
    """Train ``n_merges`` BPE merge rules: (rank, left, right, merged,
    pair_count), rank 1 = first (most frequent) merge.

    Iterative by nature (each round's counts depend on the previous
    round's merge), so not oracle-gated as SQL — correctness is pinned by
    an exact pytest against an independent pure-Python BPE reference
    (tests/test_extensions.py). The per-round argmax collect is ONE row;
    the corpus is scanned exactly once (``word_freqs``)."""
    spark = spark or docs.sparkSession
    return spark.createDataFrame(
        _trained_merges(docs, n_merges, text_col), MERGE_SCHEMA
    )


def _trained_merges(docs: DataFrame, n_merges: int, text_col: str) -> list[tuple]:
    """The merge rows ``bpe_merges`` trains. The list is a bounded
    driver-side artifact (n_merges rows): a registry value, so
    re-serving a trained tokenizer costs nothing."""
    from ..index_cache import cached_value, plan_key

    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    return cached_value(
        plan_key(docs, "bpe_merges", n_merges, text_col),
        lambda: _train_merges(docs, n_merges, text_col),
    )


def _train_merges(docs: DataFrame, n_merges: int, text_col: str) -> list[tuple]:
    wf = word_freqs(docs, text_col)
    syms = wf.select(F.split("word", "").alias("syms"), "freq").persist()
    merges: list[tuple] = []
    try:
        for rank in range(1, n_merges + 1):
            best = (
                _pair_counts(syms)
                .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
                .limit(1)
                .collect()
            )
            if not best:  # every word is a single symbol — vocabulary done
                break
            left, right, cnt = best[0]["left"], best[0]["right"], best[0]["pair_count"]
            merges.append((rank, left, right, left + right, cnt))
            nxt = syms.select(_merge_expr(left, right).alias("syms"), "freq")
            if rank % _CHECKPOINT_EVERY == 0:
                nxt = nxt.localCheckpoint(eager=True)
            else:
                nxt = nxt.persist()
                nxt.count()  # materialize before dropping the parent
            syms.unpersist()
            syms = nxt
    finally:
        syms.unpersist()
    return merges


def bpe_merge_rules(
    docs: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """The trained merge list as a driver-side ``[(left, right), ...]`` in
    rank order — the form ``bpe_encode`` consumes. Served straight from
    the trainer's driver-side cache when warm: the merge table is
    n_merges rows, so round-tripping it through a createDataFrame →
    orderBy → collect job costs ~0.5 s of pure scheduling per query for
    data that never left the driver."""
    return [(m[1], m[2]) for m in _trained_merges(docs, n_merges, text_col)]


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply trained BPE merge rules: (doc_id, n_words, n_bpe_tokens) —
    the corpus token-budget measurement a trained tokenizer exists for
    (packing / mixture budgeting read exactly this).

    ``merges`` is the bounded trained artifact ((left, right) in rank
    order — e.g. ``[(r["left"], r["right"]) for r in bpe_merges(...)
    .orderBy("rank").collect()]``), applied the way BPE encoding is
    defined: each rule rewrites the whole corpus's symbol arrays in rank
    order, leftmost-first non-overlapping within a rule.

    Scale shape: rules are applied to the DISTINCT-WORD table (vocabulary-
    sized — the same collapse that makes the trainer cheap), one narrow
    higher-order-function projection per rule; the per-word token count
    then broadcast-joins back onto the corpus word stream, which never
    shuffles on anything wider than the final per-doc aggregate. The
    per-word token-count table is a session-cached index artifact keyed
    on (corpus, rules) — a tokenizer's vocabulary is applied many times
    per training run, so the rank-ordered interpreted-fold rewrite (the
    expensive part: |rules| chained HOF folds over the vocabulary) is
    paid once, not per query.

    r14 rejection ledger (guide §1: a change the bench rejects does not
    ship): a ``mapInArrow`` rule-application pass (tight Python fold per
    word, ``merged in word`` pre-filter, semantics pinned equal by
    ``test_bpe_encode_arrow_matches_hof_fold``) was built on the
    hypothesis that the interpreted HOF folds dominate the cold build.
    The catalog pairs refuted it at BOTH scales — cold 3.51 → 3.91/4.25 s
    at sf0.1 (31-word vocabulary) and 3.25 → 3.90 s at sf1 (50k-word
    Zipf vocabulary), warm equal: the old cold cost is Catalyst
    plan/codegen compilation of the 12-fold expression tree, which the
    Arrow form merely trades for Python-worker pool startup plus
    per-word Python that nets out slower. The HOF fold stands; the
    equivalence test is kept (it pins the fold semantics against an
    independent Python fold either way)."""
    from ..index_cache import cached_index, plan_key

    words = _term_stream(docs, text_col, "word", id_col)

    def _build() -> DataFrame:
        uniq = words.select("word").distinct()
        syms = uniq.select("word", F.split("word", "").alias("syms"))
        for left, right in merges:
            syms = syms.select("word", _merge_expr(left, right).alias("syms"))
        return syms.select(
            "word", F.size("syms").cast("long").alias("n_tok")
        )

    tok_counts = cached_index(
        plan_key(docs, "bpe_tok_counts", text_col, tuple(merges)), _build
    )
    return (
        words.join(F.broadcast(tok_counts), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
        )
    )
