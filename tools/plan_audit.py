"""Generate PLANS.md — `explain("formatted")` output for headline queries.

The artifact the scale review reads: for each representative query, the
exact physical plan Spark executes at the bench SF, so partition pruning,
pushed filters, read schemas, join strategies, and exchange counts are
inspectable without running anything.

Usage: python tools/plan_audit.py [sf_dir] (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from binance_futures_availability_spark.session import get_session

#: queries whose plan shape carries the scale argument, with the property
#: each one demonstrates
HEADLINERS = {
    "availability_snapshot": "single-date point query: filter + projection pushed to scan, gathered presentation sort",
    "availability_timeline": "per-symbol history: symbol predicate in PushedFilters (row-group pruning on symbol-sorted files)",
    "availability_trend": "full-table group-count: partial aggregation before the single exchange",
    "new_listings": "anti join: distinct-collapsed right side broadcast (no shuffle of the fact table)",
    "volume_rankings": "window cluster: 2 data shuffles total (by date, then by symbol); reference's 3-way CTE self-join fused away",
    "symbol_counts_matview": "matview recompute: one partial-agg shuffle",
    "ngram_jaccard_pairs": "shingle self-join: narrow in-row shingling (no window/distinct exchange), posting-cap window, pair aggregation",
    "minhash_lsh_pairs": "LSH banding via explode + bucket equi-join; per-row array_intersect verification restricted to candidates",
    "simhash_pairs": "pigeonhole prefix-band equi-join (no cartesian), exact hamming verify",
    "cosine_pairs": "blocked-GEMM applyInPandas: ships O(n·blocks) vectors, never O(n²) pair rows",
    "lsh_cosine_pairs": "hyperplane bucket equi-join replaces the cross join",
    "ivf_topk": "IVF cell pruning: session-cached assignment artifact (InMemoryTableScan, no per-query kernel) + cell filter + broadcast query row + TakeOrderedAndProject",
    "ivf_topk_indexed": "on-disk IVF index: probe cells arrive as PartitionFilters on the cell-partitioned vectors table — storage-level pruning, no assignment kernel anywhere",
    "lsh_cosine_pairs_multi": "OR-banding: stacked-GEMM buckets for all tables in one kernel pass, posexplode, (table, bucket) equi-join, per-pair dedup before exact verify",
    "transition_events": "lag window over the symbol-clustered cached projection: no exchange, no sort above the cache",
    "embedding_dedup": "greedy near-dup survivorship: broadcast anti join on the small duplicate-id set",
    "token_counts": "pure narrow projection: scan-speed text analytics",
    "knn_join": "batch ANN: broadcast (query × probe-cell) rows against the cached IVF assignment — corpus never shuffled by cell; only the per-query top-k window exchanges",
    "pii_scrub": "sequential regex redaction: single codegen'd projection, zero shuffles",
    "contamination_check": "benchmark gram set broadcast; explode_outer keeps zero-match docs in the one per-doc aggregation (no join-back)",
    "stratified_sample": "hash-rate filter: narrow scan-speed sampling, zero shuffles",
    "mixture_weights": "one partial-agg shuffle on the stratum key; ppm window over the aggregate only",
    "repetition_scores": "per-row 2-gram stats stay narrow; top-term branch reuses the cached inverted index",
    "event_sessions": "sessionization: LAG + running-sum + final agg all reuse ONE user-key shuffle",
    "event_asof_pairs": "as-of pairing as a single last-IGNORE-NULLS window pass — no join, no range explosion",
    "event_window_counts": "tumbling rollup: window alignment is a pure projection; one partial-agg shuffle",
    "event_funnel": "ordered funnel: chained conditional window minima over one user partitioning",
    "revenue_by_nation": "Q5-family rollup, ONE fact shuffle at every scale (r13): aggregates by the INT nation key (names attach to the <=|nations|-row result via the broadcast dim chain — string-key fact aggregation measured 9.0s vs 5.9s at sf10), and the customer join is stats-guarded: broadcast while customer's scan estimate fits the session broadcast budget, else the order->nation mapping is pre-resolved before the fact join (orders-sized exchange replaces the fact-wide o_custkey exchange)",
    "knn_join_indexed": "on-disk batch ANN: probe-cell union arrives as PartitionFilters on the cell-partitioned index; memoized union, broadcast query side",
    "apply_mixture": "mixture materialization: stratum-count-sized rate table broadcast over the corpus scan; keep decision is a narrow hash filter",
    "large_volume_customers": "Q18 family: HAVING on the order-key aggregate BEFORE any join (one AQE-coalesced shuffle); orders/customer arrive via broadcast",
    "semantic_dedup": "SemDeDup: cached IVF assignment partitioned by cell, one exact GEMM per cell in applyInPandas, dup ids (not pairs) shuffle back, broadcast anti join",
    "kmeans_cells": "Lloyd rounds: assignment is a narrow Arrow pass over the cached quantized table; each update is one (cell, dim) aggregate with a bounded centroid collect",
    "event_spikes": "spike detection: aggregate to |types|x|days| before the window; trailing-frame z-test in pure BIGINT expressions (codegen, no UDF)",
    "source_overlap": "vocabulary overlap: distinct to vocabulary size first, term self-join fan-out bounded by |strata|^2, broadcast size table",
    "quality_deciles": "distributed NTILE: range repartition + per-partition offsets + narrow Arrow rank pass — no single-partition Window stage anywhere",
    "availability_rollup": "GROUP BY ROLLUP: one Expand (x3, hierarchy depth) + one partial-agg shuffle replaces three aggregation jobs",
    "event_asof_join": "two-table as-of join as union-and-carry window: one group-key shuffle, no join operator, no range explosion",
    "event_interval_join": "bucketed range join: interval bucket explosion is a narrow projection; the join is an equi-join on (group, bucket) with exact containment as post-filter",
    "curated_corpus": "end-to-end curation: quality filter + dedup + split + budget fused into one narrow scan + one content-hash shuffle; the quality gate runs BEFORE the exchange",
    "chunked_documents": "sliding-window chunking: tokenize + sequence + explode + slice, all codegen array expressions — zero shuffle",
    "scrub_boilerplate": "sub-document dedup: anti join against the sparse repeated-chunk set; ordered reassembly via array_sort of structs (no window)",
    "containment_pairs": "asymmetric near-dup: shares the cached hashed-postings artifact with the Jaccard path; containment is one extra division over carried counts",
    "cross_dedup_pairs": "cross-corpus near-dup: ONE shared LSH pass over the id-offset union. r10->r11 cause note for the flagged small-SF warm drift (0.295->0.455 s): the in-catalog number rides the LSH/posting artifacts earlier dedup queries leave in the session cache (isolated warm is ~0.9 s, in-catalog 0.455 s), so it moves with CATALOG COMPOSITION, not with this plan; the scale-honest number is sf1 where it runs at 0.29x the paired oracle",
    "ivf_range_indexed": "IVF range search: PartitionFilters prune to nprobe cell dirs; threshold filter, no ordering stage",
    "centroid_confusion": "nearest-class-mean: bounded centroid collect, one Arrow argmax pass, tiny confusion aggregate",
    "gap_filled_volumes": "LOCF gap fill: generated per-symbol date skeleton (no shuffle for the explode), left join, ONE carry-forward window",
    "availability_pivot": "explicit-value PIVOT: one partial-agg shuffle, no values-discovery job",
    "bigram_lm_scores": "bigram LM: bigram postings, corpus counts, and |V| are session-cached index artifacts (InMemoryTableScan); a warm call is the scoring join + one per-doc integer nano-nat aggregate",
    "duckdb_import_snapshot": "migration connector read: memoized registry read over the imported fact (no per-call partition discovery, nothing pinned in memory); snapshot filter pushed into the parquet scan",
    "daily_update": "composed cron tick read-back: probed window served from the cached committed table; the pipeline itself (probe -> upsert -> validate -> rankings) ran once at build",
    "release_stats": "release consistency block: ONE partial-aggregated reduction to a single row; the two exact distincts expand over dimension-bounded columns",
    "pq_codes": "PQ encode: cached codebook broadcast under a per-(vector,subspace) min-reduction; one short-row shuffle, fan-out bounded by the constant k",
    "pq_topk": "ADC top-k: broadcast m*k lookup table onto the cached code stream, integer sums, TakeOrderedAndProject — raw vectors never touched at query time",
    "ivf_pq_topk": "IVF-PQ: probed-cell id set broadcast-semi-prunes the ADC stream before the top-k — candidates are ~nprobe/n_cells of the corpus",
    "lm_quality_buckets": "perplexity split: NTILE arithmetic over the cached LM-ranked artifact (range repartition + per-partition offsets) — no single-partition window",
    "shipping_priority": "Q3 family: qualifying orders broadcast twice — semi-join below the revenue aggregate (hash table holds only qualifying keys) and build side of the attribute join; top-k collapses to TakeOrderedAndProject",
    "bm25_topk": "BM25 retrieval: query-term table broadcast onto the session-cached inverted index; integer nano-quantized score aggregate; order+limit collapses to TakeOrderedAndProject — no global sort",
    "duplicated_spans": "substring-duplication census: positional span windows from a narrow codegen transform (corpus never shuffles for span generation); ONE span-hash partial-agg exchange",
    "classifier_scores": "trained-classifier scoring: vocabulary-sized ±1 weight table broadcast onto the cached posting stream; one per-doc aggregate; left join keeps zero-term docs",
    "bpe_pair_counts": "BPE round 0: the corpus collapses to the word-frequency table in one map-side-combined aggregate; pair explode runs over vocab-sized rows; top-k is TakeOrderedAndProject",
    "span_novelty_scores": "substring novelty: cached span stream (InMemoryTableScan, no text re-fold) + broadcast sparse census into a left join; only exchange is the per-doc aggregate",
    "rp_topk": "JL-projected top-k: cached 16-d integer projection store scanned instead of 64-d vectors; broadcast single query row; TakeOrderedAndProject",
    "cross_lm_scores": "cross-corpus LM: reference counts are bounded broadcast artifacts; whole-corpus bigram stream served from the shared cached index; LEFT joins carry the unseen-mass smoothing",
    "grouped_split": "leakage-safe split: pure narrow projection on the group key — zero shuffles at any corpus size",
    "image_decode_roundtrip": "real-pixel decode audit: a PURE NATIVE PROJECTION over the session-cached decoded-pixels artifact (dims + NUL-stripped pixel md5 computed once in the decode pass) — zero Python, zero Arrow round trip at query time; the decode job is shared with the resize gate",
    "image_resize_dims": "real-pixel resize: resample + deterministic re-encode over the SHARED decoded-pixels artifact (no per-query inflate/unfilter), and the thumbnail table itself is cached under a dims-keyed entry — warm calls scan the materialized resize, the media-pipeline shard-table pattern",
    "winnow_fingerprints": "MOSS winnowing: ONE doc-key window pass over the cached span stream (string-min trick fuses min-hash + rightmost-tie into a single aggregate); fingerprint volume ~2/(w+1) of spans",
    "sq_topk": "SQ8 asymmetric top-k: cached byte-grid reconstruction store scanned instead of raw vectors (encode/reconstruct are narrow floor-over-double transforms); broadcast exact query row; TakeOrderedAndProject",
    "knn_label_propagation": "label transfer: a SLICE of the cached kNN graph (InMemoryTableScan) + narrow label joins; vote aggregate and winner window are k-bounded, distributed by query_id",
    "hard_negatives": "contrastive mining: same cached kNN-graph slice with a different-label filter; per-query re-rank bounded by k_graph",
    "token_budget_selection": "budget fill: distributed inclusive prefix sum (range repartition + bounded per-partition sum collect + narrow Arrow cumsum) — no single-partition SUM-OVER window; budget cut is a narrow predicate",
    "hybrid_rrf_topk": "hybrid retrieval: BOTH candidate lists are TakeOrderedAndProject plans; rank windows, full outer join, and fusion sort all touch <= 2*n_each rows regardless of corpus size",
    "late_supplier_orders": "Q21 family decorrelated: NO fact self-join — per-(order,supplier) MAX(late) partial-agg then per-order counts replace EXISTS/NOT-EXISTS; supplier dim broadcast; top-k is TakeOrderedAndProject. r13: the parameter-free (order,supplier) MAX(shipdate)+o_orderdate PRE-JOIN is a session-cached artifact (multi_plan_key over both sources) persisted hash-partitioned on l_orderkey, so the warm path is exchange-free until the tiny qualifying-order shuffle — sf1 warm 3.48 s (r12) -> 0.68 s vs 0.41 s oracle; plan test pins no ENSURE_REQUIREMENTS single-key exchange",
    "event_json_rollup": "schema-on-read JSON rollup served from a session-cached BOUNDED artifact: the |event_types|-row (n, n_with_prop, sum) cube per property is the cached object (r13 — previously the corpus-sized shred; many-prop workloads now accumulate KBs/prop and can't churn the byte-budget eviction). MEASURED FLOOR (r13): warm = 0.14 s, 1 job / 3 stages over a 5-row InMemoryRelation, IDENTICAL to a bare spark.range(1) noop write (0.151 s) in the same session — the cost IS the empty-plan job floor; the 3.2x residual vs the 0.038 s DuckDB oracle at sf1 is unreachable for any Spark job and is priced into BUDGETS.json",
    "max_duplicated_run_exact": "EXACT Lee-et-al longest duplicated substring per doc (upgrades the windowed census, which over-certifies on periodic text): suffix-array neighbor-LCP identity restricted to 2-token-prefix groups — a distributed window per (t1,t2), NEVER a global suffix sort; runs of 1 fall out of a broadcast vocabulary-sized token census. Payload bounded at O(corpus_tokens x max_doc_tokens) via doc-local suffix arrays (short-doc corpora; long docs would swap in prefix-doubling rank tables, same downstream shape). Parameter-free per-doc result -> session-cached; warm is a tiny cached scan",
    "small_order_revenue": "Q17 family decorrelated: brand restriction AND per-part aggregate both reach the fact as broadcast joins — the fact side never shuffles for a join; integer cross-multiplied threshold",
    "centroid_outliers": "semantic outliers: bounded labels*dim centroid collect broadcast into one Arrow scoring pass; ascending top-k collapses to TakeOrderedAndProject",
    "cluster_purity": "clustering audit: rides the cached k-means assignment; one id-keyed join + (cell,label) aggregate + majority window over |cells|*|labels| rows",
    "quality_dup_crosstab": "curation crosstab: decile side from the session-cached quality rank, dup flag from one content-hash aggregate, ONE id-keyed join into an n_tiles-sized aggregate",
    "event_user_overlap": "type-affinity matrix: distinct (type,user) reduction, user-keyed self-join with T-bounded fan-out, T^2 aggregate, broadcast totals",
    "event_debounce": "telemetry burst dedup: LAG + running-sum + leader aggregate all reuse ONE (user,type) shuffle; leader via struct MIN, no second window pass",
    "event_value_outliers": "robust anomalies: fact shuffles ONCE into a (type,value) frequency aggregate; both weighted medians are per-type cumulative WINDOWS over that aggregate sharing one hash exchange (deviation median re-ranks in-row — no re-aggregation, no join-backs); flag pass is a narrow scan under broadcast med/MAD; flagged set localCheckpoints before the global sort so range sampling reads blocks, not a recomputed fact pass",
    "minhash_estimate_audit": "sketch-drift audit: shared banded candidate core; estimate join touches only candidates against the cached signature table; single aggregate row, all-integer ppm",
    "neardup_rate_by_source": "near-dup dashboard: linear LSH pair pipeline, sparse membership explode broadcast back onto the narrow (id,source) projection, |sources|-sized aggregate",
    "late_order_priority": "Q4 family: EXISTS reduces to max(l_shipdate) > o_orderdate + N, so the join probes a session-cached PARAMETER-FREE per-order MAX rollup (map-side-combined at build, |orders|-sized, the warehouse-summary-table pattern) under a broadcast of the window's orders; date window in PushedFilters; |priorities|-sized aggregate, gathered sort. r11's LEFT SEMI shape shipped the raw fact projection through the exchange every call (11.4x oracle at sf1); this serves the rollup from InMemoryTableScan",
    "discounted_revenue": "Q6 family: every predicate in PushedFilters, 4-column ReadSchema, single map-side scalar aggregate — zero shuffle beyond the one-row reduction",
    "availability_by_nation": "cross-domain coverage rollup: the fact collapses to a PER-SYMBOL map-side aggregate BEFORE the broadcast dimension join (r12 — the naive countDistinct+count mix Expanded the fact x2 and shipped every row through the join, the heaviest sf10 scale-study item at 14.2 s); the distinct becomes a plain count over unique post-agg keys, no Expand anywhere (plan-asserted)",
    "idle_rich_customers": "Q22 family: scalar-avg subquery as a one-row broadcast cross join (integer cross-multiplied compare), NOT-EXISTS as LEFT ANTI on distinct recent-order keys, nation broadcast",
    "length_quantiles": "exact grouped quartiles: one fact shuffle into a (group,length) frequency table, then a ONE-partition gather (the table is VALUE-DOMAIN-bounded: sum of per-group distinct character lengths) under which the cumulative window, nearest-rank-pair quartile aggregate, and presentation sort run in a single exchange-free stage. MEASURED FLOOR (r12): 1 job / 3 stages — scan+partial-agg, frequency exchange, single-partition gather — ~0.3 s warm at sf0.1 against a 0.04 s DuckDB oracle; the residual ratio is per-stage scheduling cost on a tiny aggregate (alpha 0.03 to sf10, i.e. flat), priced into BUDGETS.json rather than chased below the engine's stage floor",
    "duplicate_clusters_distributed": "graph-scale connected components: alternating large-star/small-star edge-set contraction (iteration state = the pair sliver, corpus touched once by the final label-back join); hubs shatter via partial-agg MIN",
    "bigram_pmi_topk": "collocations: entirely from the cached bigram/unigram count artifacts, two bounded-vocabulary broadcast joins, integer milli-lift, TakeOrderedAndProject",
    "event_funnel_rates": "funnel summary: per-user funnel reuses ONE user shuffle, then a single one-row conditional aggregate + stack reshape — no window over the histogram, no second data shuffle",
    "event_retention_rates": "retention curve: rides the session-cached PARAMETER-FREE cohort matrix (built once, shared with event_retention); JOIN-FREE — eligibility explode and activity stream UNION under one conditional aggregate (every activity row lies inside its cohort's censoring window by construction), the censoring bound is a whole-frame window over the gathered weeks^2-bounded frame, and the entire curve runs in one exchange-free stage after two trivial SinglePartition gathers. r11 paid checkpoint + bound-aggregate + broadcast jobs plus a re-hashed join (10.9x oracle at sf1)",
    "event_retention": "weekly cohort matrix: served whole from the session index cache (InMemoryTableScan) — the two corpus shuffles (per-user MIN, cohort/offset countDistinct) are paid once per session, warm calls are a cache scan",
}


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_session(
        "plan_audit",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}` "
        "(local[*], AQE off so the static plan shows; AQE only improves "
        "these shapes at runtime). Re-generate after plan-affecting changes.",
        "",
    ]
    for name, why in HEADLINERS.items():
        df = qs[name](spark, sf_dir)
        plan = formatted_plan(df)
        # strip volatile ids/paths so diffs stay reviewable
        plan = re.sub(r"#\d+L?", "#x", plan)
        plan = re.sub(r"file:[^\],\s]+", "file:<path>", plan)
        out += [f"## {name}", "", f"_{why}_", "", "```", plan.rstrip(), "```", ""]
        n_ex = plan.count("Exchange")
        out.insert(-1, f"Exchanges: {n_ex}")
        out.insert(-1, "")
    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
