#!/usr/bin/env python
"""Plan inspector: prints `explain(formatted)` for the headline queries and
asserts the plan properties the engine is designed around:

- doc builds: ONE exchange (partial-aggregable pivot), no extra sort
- joins against small sides: BroadcastHashJoin, never SortMergeJoin
- scans: only needed columns in ReadSchema (column pruning)
- expressions: inside WholeStageCodegen spans (no Python in the hot path)

Usage: python scripts/explain.py [--sf DIR] [query ...]
"""

from __future__ import annotations

import argparse
import re
import sys

sys.path.insert(0, "/root/repo")

# Doc builds must be ONE partial-aggregable exchange: `partial_max` (or
# partial min/count) before the hash exchange proves map-side combine; a
# second hashpartitioning exchange would mean the two-shuffle shape the
# pivot exists to avoid.  (max over a struct buffer compiles to
# SortAggregate — not hash-aggregable in Spark — but the partial agg +
# single exchange is the property that matters at scale.)
ONE_EXCHANGE = r"^(?!.*hashpartitioning.*hashpartitioning)"
NO_PYTHON = [r"BatchEvalPython", r"ArrowEvalPython"]

CHECKS = {
    # query -> (must-contain regexes, must-NOT-contain regexes)
    "row_index_customer": (
        [r"partial_max"],
        [r"SortMergeJoin", r"hashpartitioning.*hashpartitioning", *NO_PYTHON],
    ),
    "typed_decode_matrix": (
        [r"partial_max"],
        [r"SortMergeJoin", r"hashpartitioning.*hashpartitioning", *NO_PYTHON],
    ),
    "column_index_orders": (
        [r"partial_max"],
        [r"SortMergeJoin", r"hashpartitioning.*hashpartitioning", *NO_PYTHON],
    ),
    # wildcard and per-cell extraction: the cell selection (array_sort over
    # a filter lambda) and the decode stay Catalyst expressions
    "column_index_orders_hex": (
        [r"partial_max", r"array_sort\(filter\("],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    "prefix_values": (
        [r"partial_collect_list", r"array_sort\(filter\("],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    "prefix_qualifiers": (
        [r"partial_collect_list", r"array_sort\(filter\("],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    "dynamic_fields": (
        [r"partial_collect_list", r"map_from_arrays\(", r"array_sort\(filter\("],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    "positional_fields": (
        [r"partial_collect_list", r"element_at\(transform\(", r"array_sort\(filter\("],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    "stream_static_join": (
        [r"BroadcastHashJoin"],
        [r"SortMergeJoin"],
    ),
    "pricing_summary": (
        [r"HashAggregate", r"partial_sum", r"PushedFilters: \[.*l_shipdate"],
        [r"BatchEvalPython"],
    ),
    "repetition_filter": (
        [r"HashAggregate", r"partial_count"],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    "etl_enrichment_chain": (
        [r"HashAggregate", r"partial_"],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    "exact_dedup": (
        [r"HashAggregate", r"partial_"],
        [r"SortMergeJoin", r"BatchEvalPython"],
    ),
    "minhash_signatures": (
        [r"HashAggregate", r"partial_min"],
        NO_PYTHON,
    ),
    # new analytics shapes: the join strategy IS the property under test
    "order_priority_check": (
        [r"LeftSemi", r"partial_count"],
        NO_PYTHON,
    ),
    "customer_order_distribution": (
        [r"LeftOuter", r"partial_count"],
        NO_PYTHON,
    ),
    "large_orders": (
        [r"partial_sum", r"BroadcastHashJoin"],
        NO_PYTHON,
    ),
    "idle_high_balance_customers": (
        [r"LeftAnti"],
        NO_PYTHON,
    ),
    "priority_shipping_stats": (
        [r"partial_sum", r"PushedFilters"],
        NO_PYTHON,
    ),
    "part_supplier_variety": (
        # COUNT(DISTINCT) expands to two-phase partial_count(distinct ...)
        [r"BroadcastHashJoin", r"partial_count\(distinct"],
        NO_PYTHON,
    ),
    # U7: the Python agg stage is the point — assert it's the Arrow path
    "udaf_event_stats": (
        [r"ArrowAggregatePython", r"partial_sum"],
        [r"BatchEvalPython"],
    ),
    # Q2 shape: decorrelated MIN is a partial-aggregable groupBy; dims broadcast
    "min_cost_supplier": (
        [r"partial_min", r"BroadcastHashJoin"],
        NO_PYTHON,
    ),
    # Q19 shape: disjunctive residual must not break the broadcast equi-join
    "disjunctive_promo_revenue": (
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    # Q15 shape: 1-row max aggregate broadcasts onto the revenue view
    "top_revenue_supplier": (
        [r"BroadcastHashJoin", r"partial_sum", r"PushedFilters: \[.*l_shipdate"],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    # Q7 shape: both nation roles broadcast; one fact-fact shuffle at most
    "nation_trade_volume": (
        [r"BroadcastHashJoin", r"partial_sum"],
        NO_PYTHON,
    ),
    # Q8 shape: region membership is a broadcast LEFT SEMI, dims broadcast
    "market_share": (
        [r"BroadcastHashJoin", r"LeftSemi", r"partial_sum"],
        NO_PYTHON,
    ),
    # Q10 shape: date filter pushed into the orders scan; dims broadcast
    # onto the aggregated (small) result, never onto the fact
    "returned_item_losses": (
        [r"BroadcastHashJoin", r"partial_sum",
         r"PushedFilters: \[.*o_orderdate"],
        NO_PYTHON,
    ),
    # Q11 shape: 1-row total broadcasts (nested-loop on a single row is fine)
    "important_part_value": (
        [r"partial_sum", r"Broadcast"],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    # Q17 shape: decorrelated AVG = per-part partial agg joined back
    "small_quantity_revenue": (
        [r"BroadcastHashJoin", r"partial_count"],
        NO_PYTHON,
    ),
    # Q20 shape: IN-subquery chain = LEFT SEMI joins, supplier never scanned wide
    "excess_inventory_suppliers": (
        [r"LeftSemi", r"partial_sum", r"PushedFilters: \[.*l_shipdate"],
        NO_PYTHON,
    ),
    # Q21 shape: one per-order aggregate (two distincts = Expand + gid-
    # filtered partial counts), no EXISTS self-joins anywhere in the plan
    "waiting_suppliers": (
        [r"Expand", r"partial_count", r"BroadcastHashJoin"],
        NO_PYTHON,
    ),
    # as-of join: union + ONE keyed sort window; no range/nested-loop join
    "asof_click_attribution": (
        [r"Window", r"Union"],
        [r"NestedLoop", r"CartesianProduct", *NO_PYTHON],
    ),
    # interval join via grid cells: must be an equi-join Catalyst can
    # broadcast, never a nested-loop range join
    "event_value_bands": (
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"BroadcastNestedLoopJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    "user_event_history": (
        [r"Window"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # verified-LSH: probes broadcast onto the sketched corpus (equi-join on
    # bucket), sketch/cosine folds stay JVM-side — never a cartesian pass
    "ann_lsh_verified": (
        [r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # verified-IVF: cell assignment is a per-row array_sort (no shuffle, no
    # pandas UDF); candidates join on cell as a broadcast equi-join
    "ann_ivf_verified": (
        [r"BroadcastHashJoin", r"array_sort"],
        [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # decontamination: the held-out n-gram set broadcasts; the train corpus
    # is never shuffled before the (doc_id, count) aggregate
    "decontaminate": (
        [r"BroadcastHashJoin", r"partial_count"],
        [r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    # corpus top-k: map-side-combined count + bounded TakeOrdered, no sort
    # of the full gram stream
    "ngram_topk": (
        [r"partial_count", r"TakeOrderedAndProject"],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    # scrub and quantize are pure projections: no keyed shuffle, no Python
    # (the one RoundRobin exchange is the load() fixture's source respread
    # — the local analog of region splits, not part of the operator)
    "pii_scrub": (
        [r"Project"],
        [r"hashpartitioning", r"rangepartitioning", *NO_PYTHON],
    ),
    "embedding_quantize": (
        [r"Project"],
        [r"hashpartitioning", r"rangepartitioning", *NO_PYTHON],
    ),
    # KMV sketch: distinct hashes then bounded per-partition top-k merge
    "vocab_estimate": (
        [r"partial_", r"TakeOrderedAndProject"],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    "language_histogram": (
        [r"HashAggregate", r"partial_count"],
        [r"SortMergeJoin", *NO_PYTHON],
    ),
    # full corpus composition: the added split/contamination joins must
    # stay broadcast/anti, and nothing in the chain may go cartesian
    "training_corpus": (
        [r"BroadcastHashJoin", r"LeftAnti"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # banded Hamming join: candidates come from an EQUALITY join on
    # (band, value) — the popcount filter must never degrade the plan to
    # a cartesian/nested-loop all-pairs scan
    "simhash_near_dups": (
        [r"partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    "ngram_containment": (
        [r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # C4-style passage dedup: the global first-occurrence keeper must stay
    # a map-side-combinable min(struct) aggregation (partial_min) — a
    # Window row_number over the passage key would sort every occurrence
    # of a hot boilerplate passage on one reducer
    # corpus-stat scorers: combinable tf aggregation; the per-doc top-k
    # must compile to WindowGroupLimit (rank pushdown — never a full
    # per-doc sort materialization); integer sums, no Python stage
    "tfidf_topk": (
        [r"partial_count", r"WindowGroupLimit"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    "unigram_logprob": (
        [r"partial_count", r"partial_sum"],
        [r"Window", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # DSIR: bucket weights ride a broadcast join (≤ n_buckets rows); the
    # top-k resample must be TakeOrderedAndProject, never a global Sort
    "dsir_selection": (
        [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    # C4 line cleaning is one map-only projection: a single scan, no
    # explode, no join, no shuffle, no Python
    "c4_line_clean": (
        [r"Scan parquet", r"Project"],
        [r"Join", r"Generate", r"hashpartitioning", *NO_PYTHON],
    ),
    # substring dedup: window-hash equality shuffles + hash joins only;
    # the interval merge is an array fold, never a per-doc Python stage
    "substring_dedup": (
        [r"Generate", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    # PQ/ADC: the coarse pass is codes x broadcast LUT (the deliberate
    # candidate-generation product, same floor as the other ANN legs);
    # encode must stay a map-only projection — no Python anywhere
    "ann_pq_adc": (
        [r"BroadcastNestedLoopJoin", r"WindowGroupLimit"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # line dedup: one line-key shuffle + equality join back; rebuild is
    # a per-doc combinable collect — no window, no Python
    "line_dedup": (
        [r"Generate", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    # vocab encode: token counts -> TakeOrdered top-V -> broadcast join;
    # the id-assigning window runs over the LIMITed V-row frame only
    "vocab_encode": (
        [r"TakeOrderedAndProject", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # filter ablation: equality joins of per-doc verdicts + a <=16-group
    # final agg; an audit op (multiple scans accepted, no Python)
    "filter_ablation": (
        [r"partial_count", r"partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # count-min: combinable (row, cell) build + broadcast probe join;
    # the sketch is depth x width rows by construction
    "cms_heavy_hitters": (
        [r"partial_count", r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    # streaming sketch end state: the returned frame is the store's
    # published version — a bare parquet scan; the folds ran inside
    # the foreachBatch micro-batches
    "cms_stream": (
        [r"Scan parquet"],
        [r"Join", r"CartesianProduct", r"Window", *NO_PYTHON],
    ),
    # streaming HLL end state: like cms_stream, the returned frame is
    # the store's published version — a bare parquet scan
    "hll_stream": (
        [r"Scan parquet"],
        [r"Join", r"CartesianProduct", r"Window", *NO_PYTHON],
    ),
    # HLL: one combinable (group, reg) max-shuffle, then a 64-row-per-
    # group fold; the exact side joins back broadcast-small
    "hll_daily_users": (
        [r"partial_max", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         r"SortMergeJoin", *NO_PYTHON],
    ),
    # pagerank: the returned frame IS the last localCheckpoint — a bare
    # scan of the materialized rank blocks (plan depth held constant is
    # the property; the per-round join+agg shapes ran eagerly inside the
    # loop); no Python, no windows, no cartesian survives to the output
    "pagerank_trade": (
        [r"Scan ExistingRDD"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    "trustrank_seeds": (
        [r"Scan ExistingRDD"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    # F2 estimate: two combinable aggregation branches (sketch fold +
    # exact per-key counts) crossed on single rows; the 1x1 BNLJ is
    # allowlisted in tests/test_plan_lint.py
    "selfjoin_size": (
        [r"partial_", r"HashAggregate"],
        [r"CartesianProduct", r"Window", *NO_PYTHON],
    ),
    # column profile: per-column combinable count/null/register passes
    # unioned; the distinct-vs-sketch join is broadcast-1-row-per-column
    "column_profile": (
        [r"partial_", r"HashAggregate", r"Union"],
        [r"CartesianProduct", r"Window", *NO_PYTHON],
    ),
    # ingestion roundtrips: the returned frame is a bare scan of the
    # just-written corpus files under the enforced schema
    "jsonl_ingest": (
        [r"Scan json"],
        [r"Join", r"Window", *NO_PYTHON],
    ),
    "csv_ingest": (
        [r"Scan csv"],
        [r"Join", r"Window", *NO_PYTHON],
    ),
    # quantile sketch: histogram + stats are combinable partial aggs;
    # the Window is the <=256-rows-per-group cumulative pass plus the
    # per-group exact-rank audit (both grp-partitioned, never global)
    "quantile_sketch": (
        [r"partial_", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # winnowing: fingerprint selection is a pure map (array ops inside
    # one scan); overlap pairs ride the fp equality join
    "winnow_fingerprints": (
        [r"Scan parquet", r"Generate"],
        [r"hashpartitioning", r"Window", r"SortAggregate", r"HashAggregate",
         *NO_PYTHON],
    ),
    "winnow_overlap": (
        [r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    "bigram_logprob": (
        [r"partial_count", r"partial_sum"],
        [r"Window", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # mixture resampling: G-row cutoff table must broadcast back onto the
    # corpus; the per-group count must partial-aggregate map-side
    "mixture_resample": (
        [r"partial_count", r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # sequence packing: the global prefix sum must be the two-level block
    # scan — per-block totals as a combinable partial_sum, never a
    # SortMergeJoin (block offsets are broadcast) and never a Python stage
    "pack_sequences": (
        [r"partial_sum", r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # shuffle rank: per-block row_number only (hash blocks) — a global
    # unpartitioned Window over the corpus would be the single-reducer
    # sort this exists to avoid; the only unpartitioned window input is
    # the 4096-row block aggregate
    "shuffle_order": (
        [r"partial_count", r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    "shuffled_pack": (
        [r"partial_count", r"partial_sum", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    "sequence_manifest": (
        [r"partial_sum", r"BroadcastHashJoin", r"Generate"],
        [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # health report: ONE scan + one combinable agg (the count-distinct
    # expand is the only extra exchange); no join, no window
    "corpus_report": (
        [r"partial_count\(distinct"],
        [r"Join", r"Window", r"CartesianProduct", *NO_PYTHON],
    ),
    # cross-snapshot dedup: candidates must come from band-key equality
    # joins (hashpartitioning on band keys), never a nested-loop cross of
    # new x base; no window, no Python
    "dedup_against": (
        [r"partial_min", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    # rule filter must stay a codegen'd scan: no hash shuffle, no window
    # (the only Exchange allowed is the fixture loader's round-robin)
    "gopher_rules": (
        [r"Scan parquet", r"Project"],
        [r"hashpartitioning", r"Window", r"SortAggregate", r"HashAggregate",
         *NO_PYTHON],
    ),
    # text rides one doc_id join; rebuild is a combinable collect_list
    # (bounded by seq_len per group), never a Cartesian or Python stage
    "packed_sequence_text": (
        [r"Generate", r"objHashAggregate|ObjectHashAggregate|partial_"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    "span_dedup": (
        [r"partial_min"],
        [r"Window", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # r4 continuation batch — the plan property each was designed around:
    # bloom screen: bits ride a broadcast LEFT SEMI (never a sort-merge of
    # the full batch against the base); the all-k vote is combinable
    "bloom_screen": (
        [r"BroadcastHashJoin", r"LeftSemi", r"partial_count"],
        [r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    # chunker: map-only — Generate (the posexplode), NO shuffle of any kind
    "chunk_documents": (
        [r"Generate"],
        [r"hashpartitioning", r"rangepartitioning", r"Window",
         r"SortAggregate", r"HashAggregate", *NO_PYTHON],
    ),
    # budget walk: combinable per-(source, block) partials; the only sorts
    # run inside block partitions, never a global rangepartitioning
    "token_budget_sample": (
        [r"partial_sum"],
        [r"rangepartitioning", r"CartesianProduct", *NO_PYTHON],
    ),
    # centroids: posexplode + ONE combinable (label, dim) aggregation
    "label_centroids": (
        [r"Generate", r"partial_sum", r"partial_count"],
        [r"Window", r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    # eval-set sampler: rank must compile to WindowGroupLimit (partial
    # per-task top-k), not a full per-stratum sort materialization
    "fixed_k_sample": (
        [r"WindowGroupLimit"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # BPE pairs: vocab-sized combinable counts + bounded TakeOrdered
    "bpe_merge_candidates": (
        [r"partial_count", r"partial_sum", r"TakeOrderedAndProject"],
        [r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    # int8 ANN: every stage (quantize folds, integer dots, re-rank) stays
    # JVM-side; candidates are broadcast equi-joins, never a sort-merge
    "ann_int8_rerank": (
        [r"BroadcastHashJoin"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # sparse cosine: inverted-index equality join + combinable integer
    # dots — never a nested-loop all-pairs pass, no Python
    "tfidf_cosine_pairs": (
        [r"partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    # z-test: group moments are combinable DECIMAL partials broadcast back
    "nll_outliers": (
        [r"partial_sum", r"BroadcastHashJoin"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin", *NO_PYTHON],
    ),
    # mixed-language vote: two combinable aggs over segment labels; the
    # text itself never shuffles (only (doc, lang) counts do)
    "mixed_language": (
        [r"Generate", r"partial_count"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin", *NO_PYTHON],
    ),
    "dup_size_histogram": (
        [r"partial_count"],
        [r"Window", r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    # epoch expansion: G-row totals broadcast; the remainder cut is the
    # block scan (no global rangepartitioning), emit is a Generate
    "epoch_expand": (
        [r"Generate", r"partial_sum", r"BroadcastHashJoin"],
        [r"rangepartitioning", r"CartesianProduct", *NO_PYTHON],
    ),
    # decile binning: boundaries are a combinable percentile agg broadcast
    # back; the per-doc bin is a map — an ntile would per-group sort
    "quality_deciles": (
        [r"partial_percentile", r"BroadcastHashJoin"],
        [r"Window", r"rangepartitioning", r"CartesianProduct", *NO_PYTHON],
    ),
    # novelty: first-occurrence is a combinable min per gram (the
    # span_dedup trick) — a Window over gram occurrences would sort hot
    # boilerplate grams onto one reducer
    "ngram_novelty": (
        [r"partial_min", r"partial_count"],
        [r"Window", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # manifest: ONE combinable aggregation; bit_xor partials make the
    # checksum partition-layout-invariant with no sort/collect
    "shard_manifest": (
        [r"partial_count", r"partial_sum", r"partial_bit_xor"],
        [r"Window", r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    # curriculum: tier boundaries broadcast; rank windows are (tier,
    # block)-partitioned — never a global rangepartitioning sort
    "curriculum_order": (
        [r"partial_percentile", r"BroadcastHashJoin"],
        [r"rangepartitioning", r"CartesianProduct", *NO_PYTHON],
    ),
    # CDC dedup: same combinable-keeper contract as span_dedup — a
    # Window over chunk occurrences would reduce hot boilerplate chunks
    # on one reducer
    "cdc_dedup": (
        [r"partial_min"],
        [r"Window", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # funnel: ONE combinable conditional-min pass per user; depth math is
    # a map — no per-user window sort anywhere
    "event_funnel": (
        [r"partial_min"],
        [r"Window", r"CartesianProduct", *NO_PYTHON],
    ),
    "retention_cohorts": (
        [r"partial_min", r"partial_count"],
        [r"Window", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # pair-quality: single-action full-outer flag aggregation; both pair
    # generators keep their banded (never all-pairs) shapes
    "dedup_pair_quality": (
        [r"partial_sum", r"FullOuter"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # composed ANN stack: array_sort cell ranking (no shuffle), broadcast
    # candidate equi-join, JVM-side integer coarse — no Python anywhere
    "ann_ivf_int8": (
        [r"BroadcastHashJoin", r"array_sort"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # audits: combinable partials only; no windows over data tables
    "token_fertility": (
        [r"partial_count", r"partial_sum"],
        [r"Window", r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    "snapshot_diff": (
        [r"partial_sum", r"FullOuter"],
        [r"Window", r"CartesianProduct", *NO_PYTHON],
    ),
    "embedding_drift": (
        [r"Generate", r"partial_sum"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin", *NO_PYTHON],
    ),
    "jaccard_threshold_curve": (
        [r"partial_count"],
        [r"Window", r"CartesianProduct", *NO_PYTHON],
    ),
    # one-row summary: one scan, combinable partials + the count-distinct
    # expand; no join, no window, no sort anywhere
    "corpus_summary": (
        [r"partial_count", r"partial_sum"],
        [r"Join", r"Window", r"CartesianProduct", *NO_PYTHON],
    ),
    # lineage: composed stage funnel — every inter-stage join keyed and
    # broadcast where one side is stage-count-sized; survivor sets are
    # combinable min/count partials (the one SMJ is doc-keyed left outer)
    "curation_lineage": (
        [r"BroadcastHashJoin", r"partial_min", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # keeper-by-quality: canonical member is ONE combinable max_by per
    # component on top of the CC pair graph — no per-component sort
    "dedup_keep_best": (
        [r"partial_max_by", r"partial_min"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # byte-digest dedup: digest-only shuffle, combinable min keeper, the
    # metadata join back is broadcast
    "media_dedup": (
        [r"partial_min", r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"Window", r"CartesianProduct", *NO_PYTHON],
    ),
    # append continuation: same two-level block scan as pack_sequences
    # (the only Window inputs are the block aggregate + broadcast offset)
    "pack_append": (
        [r"partial_sum", r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin",
         *NO_PYTHON],
    ),
    # KMV sketch pairs: per-group top-k via WindowGroupLimit (partial
    # top-k per task), then a G^2-row sketch theta-join — aggregate-sized
    # BNLJ is the allowlisted design, the corpus never cross-joins
    "vocab_overlap": (
        [r"WindowGroupLimit", r"partial_collect_list"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # per-doc entropy: map-only in-row array math — no join, no window,
    # no aggregation exchange at all
    "char_entropy": (
        [r"Generate"],
        [r"Join", r"Window", r"CartesianProduct", *NO_PYTHON],
    ),
    # pairwise source containment: sketch joins are broadcast (G-row
    # sides), survivor counts combinable — never an SMJ over documents
    "source_overlap_matrix": (
        [r"BroadcastHashJoin", r"partial_count"],
        [r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    # kNN vote: brute-force neighbor search is the declared broadcast
    # baseline; vote is ONE combinable min_by/max over k rows per query
    "knn_label_vote": (
        [r"WindowGroupLimit", r"partial_min_by"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # recall audit: exact + approx top-k both WindowGroupLimit-pruned;
    # the per-query compare joins on query_id only
    "ann_recall_report": (
        [r"WindowGroupLimit", r"partial_count"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # embedding near-dup default: band-equality candidate joins + exact
    # cosine on candidates only — never a cross join, never a Python stage
    "embedding_cosine_lsh": (
        [r"SortMergeJoin Inner|BroadcastHashJoin Inner"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # stateful screen transcript: the returned frame is a pure union of the
    # eagerly-checkpointed per-batch verdicts — all screen work (band
    # joins, estimator) ran at checkpoint time against a pinned store
    # version; re-collection must never re-run a join or Python stage.
    # The LIVE screen plan's shape (band-equality joins, no cartesian) is
    # pinned by tests/test_dedup_store.py::test_screen_plan_shape.
    "dedup_store_screen": (
        [r"Union", r"ExistingRDD"],
        [r"Join", r"CartesianProduct", *NO_PYTHON],
    ),
    # streaming curation end state: the returned frame is the corpus
    # store's published version — a bare parquet scan; all screen/gate
    # work ran inside the foreachBatch micro-batches
    "curation_stream": (
        [r"Scan parquet"],
        [r"Join", r"CartesianProduct", r"Window", *NO_PYTHON],
    ),
    # embedding decontamination: train-x-test candidates from broadcast
    # band-equality joins; never a cross join, never a Python stage
    "semantic_decontam": (
        [r"BroadcastHashJoin", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # recall audit: ONE full-outer pair join + a single agg (the exact
    # side's blocked matmul is its declared Arrow cogroup)
    "embedding_lsh_recall": (
        [r"FullOuter", r"partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # model scorer: pure map — no shuffle of any kind, no Python
    "quality_model_scores": (
        [r"Scan parquet", r"Project"],
        [r"hashpartitioning", r"Window", r"SortAggregate",
         r"HashAggregate", *NO_PYTHON],
    ),
    # blocklist gate: pure map — the list compiles to a plan literal,
    # no keyed shuffle, no Python
    "blocklist_filter": (
        [r"Scan parquet", r"Project"],
        [r"hashpartitioning", r"Window", r"SortAggregate",
         r"HashAggregate", *NO_PYTHON],
    ),
    # contrastive mining: the declared O(K)-broadcast verifier scan
    # (same family as ann_bruteforce_topk — BNLJ allowlisted in
    # test_plan_lint) + per-(anchor, role) WindowGroupLimit top-k
    "contrastive_pairs": (
        [r"WindowGroupLimit"],
        [r"CartesianProduct", r"SortMergeJoin", *NO_PYTHON],
    ),
    # batching layout: two-level (bucket, hash-block) rank — block
    # offsets broadcast back, manifest agg is map-side combinable
    "length_buckets": (
        [r"BroadcastHashJoin", r"partial_count", r"partial_max"],
        [r"SortMergeJoin", r"CartesianProduct",
         r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # PSI drift: combinable (grp, bin) counts per side; verdict joins
    # aggregate tables only (SMJ full-outer over |sources|x|bins| rows)
    "psi_drift": (
        [r"partial_count", r"partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # k-means assignment: the returned frame is a pure projection against
    # broadcast centroid LITERALS (refinement ran at build time as its
    # own combinable job) — no join, no shuffle, no Python may appear
    "kmeans_cells": (
        [r"Scan parquet", r"Project"],
        [r"Join", r"CartesianProduct", r"hashpartitioning", *NO_PYTHON],
    ),
    # SemDeDup: quadratic work confined to equality-joined cells —
    # never a cross join, never a Python stage
    "semdedup": (
        [r"SortMergeJoin Inner|BroadcastHashJoin Inner"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # BM25 (r6): the tiny query-term side must BROADCAST into the
    # postings join (inverted-index probe, never a corpus-shuffle), the
    # postings/df builds stay partial-aggregated, no Python anywhere
    "bm25_topk": (
        [r"BroadcastHashJoin", r"partial_"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # skew profile (r6): top-k must be TakeOrderedAndProject (O(k) per
    # partition), never a range-partitioned global sort of the key table
    "key_skew_report": (
        [r"TakeOrderedAndProject", r"partial_count"],
        [r"rangepartitioning", *NO_PYTHON],
    ),
    # ensemble (r6): combinable (min,max) broadcast + map-only binning;
    # no window, no global sort, no Python
    "quality_ensemble": (
        [r"partial_min", r"partial_max"],
        [r"Window", r"rangepartitioning", r"CartesianProduct", *NO_PYTHON],
    ),
    # backoff LM (r6): n-gram tables are combinable aggregations; the
    # scoring stream joins them with equi-joins only — no cross join,
    # no Python, no global sort
    "trigram_backoff": (
        [r"partial_", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"rangepartitioning", *NO_PYTHON],
    ),
    # store-backed BM25 (r6): same inverted-index probe contract as
    # bm25_topk — the query-term side broadcasts, postings stay
    # partial-aggregated
    "bm25_incremental": (
        [r"BroadcastHashJoin", r"partial_"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # RRF hybrid fusion (r7, VERDICT r6 #5): the BM25 leg keeps its
    # broadcast inverted-index probe through the fusion plan, the fused
    # union + groupBy stays partial-aggregated (aggregate-sized input:
    # queries x k rows), no cross join / Python anywhere.  The dense leg
    # is the DECLARED brute-force baseline: a BNLJ with the tiny query
    # set broadcast (BuildRight) against one corpus scan — the
    # plan-lint-allowlisted shape — so BNLJ is permitted here, and the
    # contract pins that the broadcast side stays the build side.
    "hybrid_rrf": (
        [r"BroadcastHashJoin", r"partial_",
         r"BroadcastNestedLoopJoin Inner BuildRight"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # retrieval eval (r7, VERDICT r6 #5): the ranking-vs-truth full join
    # is over two top-k frames (aggregate-sized), the per-query report is
    # a combinable aggregation; never a cross join, never Python.  The
    # truth side is the exact dense ranking -> same allowlisted
    # broadcast-BNLJ brute-force leg as hybrid_rrf.
    "retrieval_eval": (
        [r"FullOuter", r"partial_sum",
         r"BroadcastNestedLoopJoin Inner BuildRight"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # sorted-neighborhood (r7): candidates must come from an EQUI-join
    # on rank+gap (BHJ at toy scale, SMJ at scale) — a range join here
    # would BNLJ; the global rank must not use a single-partition
    # window (two-phase offsets instead: the only SinglePartition is
    # the tiny offsets aggregate, pinned absent below)
    "sorted_neighborhood_pairs": (
        [r"BroadcastHashJoin|SortMergeJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"Window.*\n.*SinglePartition", *NO_PYTHON],
    ),
    # IVM min/max (r7): the maintained multiset merge is a combinable
    # delta aggregation + one full-outer join of aggregate-sized tables;
    # the derived extremes are one more combinable agg — no Python, no
    # cross join, no global sort anywhere
    "incremental_minmax_maintenance": (
        [r"FullOuter", r"partial_min", r"partial_max"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"rangepartitioning.*rangepartitioning", *NO_PYTHON],
    ),
    # header introspection (r6): header build + parse is ONE map-only
    # projection — no join, no shuffle, no Python (the whole point:
    # metadata extraction without a codec or a Python row loop)
    "media_header_parse": (
        [r"Scan parquet", r"Project"],
        [r"Join", r"Exchange", r"CartesianProduct", *NO_PYTHON],
    ),
    # edit-distance verify (r6): banded candidates are EQUALITY joins
    # (partial_min = the signature build); never a cross join / Python
    "edit_distance_dedup": (
        [r"partial_min", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # FK audit (r6): anti-joins + combinable counts in ONE lazy plan
    # (the 1x1 scalar crossJoins are the allowlisted BNLJ shape)
    "fk_integrity": (
        [r"LeftAnti", r"partial_count"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # span corruption (r6): ONE window pass per doc (lag + running sum)
    # then a combinable groupBy rebuild — never Python, never a join
    "span_corruption": (
        [r"Window", r"HashAggregate|ObjectHashAggregate|SortAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # prefix-LM pairs (r6): pure map-only projection — scan + Project.
    # The only Exchange allowed is the fixture loader's round-robin
    # respread (REPARTITION_BY_NUM, the local analog of region splits);
    # an operator-induced shuffle (ENSURE_REQUIREMENTS /
    # hashpartitioning) would mean the op stopped being map-only.
    "prefix_lm_pairs": (
        [r"Scan parquet", r"Project"],
        [r"Join", r"ENSURE_REQUIREMENTS", r"hashpartitioning", r"Window",
         r"Aggregate", r"CartesianProduct", *NO_PYTHON],
    ),
    # FIM transform (r6): same map-only shape as prefix_lm_pairs
    "fim_transform": (
        [r"Scan parquet", r"Project"],
        [r"Join", r"ENSURE_REQUIREMENTS", r"hashpartitioning", r"Window",
         r"Aggregate", r"CartesianProduct", *NO_PYTHON],
    ),
    # JSON key profile (r6): explode + ONE combinable agg; the 1x1
    # total-rows scalar is the allowlisted BNLJ shape — never Python
    "json_key_profile": (
        [r"Generate", r"partial_count"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # z-order audit: one bounds aggregate broadcast back (partial_min
    # proves map-side combine), two combinable bucket aggs — no sort, no
    # SMJ, nothing Python
    "zorder_bucket_stats": (
        [r"partial_min", r"partial_count"],
        [r"CartesianProduct", r"SortMergeJoin", *NO_PYTHON],
    ),
    # stream-stream join end state: the returned frame is the parquet
    # SINK of the finished availableNow run — a bare scan; the
    # symmetric-hash join state work ran inside the micro-batches
    "stream_stream_join": (
        [r"Scan parquet"],
        [r"Join", r"CartesianProduct", r"Window", *NO_PYTHON],
    ),
    # bucketed fact-fact join: the gate plan is join + ONE agg exchange
    # (at toy SF AQE may broadcast the small side — either shape is
    # exchange-free on the fact scan); the strict zero-Exchange SMJ
    # property is pinned under controlled confs in tests/test_bucketed.py
    "bucketed_join_revenue": (
        [r"partial_sum"],
        [r"CartesianProduct", r"hashpartitioning.*hashpartitioning",
         *NO_PYTHON],
    ),
    # grouping sets: ONE Expand feeding ONE partial+final aggregation —
    # never a re-scan or union of per-set aggregates
    "priority_grouping_sets": (
        [r"Expand", r"partial_sum"],
        [r"Union", r"CartesianProduct", *NO_PYTHON],
    ),
    # exact quantiles: combinable (g,v) count, per-group window over
    # distinct values, broadcast totals — no SMJ, no global sort before
    # the final 12-row orderBy
    "exact_quantiles_by_lang": (
        [r"partial_count", r"Window"],
        [r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    # sketch-algebra overlap: ONE combinable register build (partial_max
    # proves map-side combine); pair work is over 64-row sketches
    "segment_overlap_sketch": (
        [r"partial_max"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # change feed: ONE full-outer key join between two version scans —
    # change-sized output, no Python, no cross join
    "store_changefeed": (
        [r"(SortMergeJoin FullOuter|Join FullOuter)"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # span detector: combinable weight agg + per-doc ROWS-frame window —
    # the Window must be partitioned (never a global single-reducer sort)
    "low_quality_spans": (
        [r"Window", r"partial_count"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # rolling sketch: one combinable register build (partial_max), the
    # RANGE-frame window partitioned by register — never a cross join of
    # raw data, never Python
    "rolling_active_users": (
        [r"partial_max", r"Window"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # IVM: combinable delta agg over the change-sized feed + one
    # full-outer join of aggregate-sized tables — the base view is never
    # re-scanned (its only scans are v0/v1 inside the feed diff)
    "incremental_agg_maintenance": (
        [r"partial_sum", r"FullOuter"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # interval-overlap join (r8): both sides explode to grid cells
    # (Generate) and meet in an EQUI-join on the cell — a range join
    # here would be the BNLJ this operator exists to avoid
    "interval_overlap_pairs": (
        [r"Generate",
         r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # gapfill+LOCF (r8): one combinable daily agg (partial_max), the
    # day grid from an exploded sequence (Generate), the fill via a
    # PARTITIONED window — the 1-row bounds broadcast is the
    # allowlisted scalar BNLJ shape
    "gapfill_daily_value": (
        [r"partial_max", r"Generate", r"Window"],
        [r"CartesianProduct", *NO_PYTHON],
    ),
    # k-anonymity (r8): ONE combinable aggregation keyed by the quasi
    # tuple — no join, no second exchange, nothing Python
    "k_anonymity_audit": (
        [r"partial_count"],
        [r"Join", r"hashpartitioning.*hashpartitioning",
         r"CartesianProduct", *NO_PYTHON],
    ),
    # OLS trend (r8): fact scan + broadcast dims + ONE combinable
    # sufficient-statistics aggregation; the slope assembly is
    # aggregate-sized arithmetic
    "revenue_trend": (
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"SortMergeJoin", r"CartesianProduct", *NO_PYTHON],
    ),
    # prefix filtering (r8): candidates from prefix-token EQUI-joins +
    # combinable df counts — never a cross join (the all-pairs shape
    # this family replaces), never Python
    "prefix_filter_dups": (
        [r"partial_count",
         r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
    # dHash (r8): the decode is DECLARED Python but must be the
    # Arrow-batched mapInPandas, never a row-at-a-time Python UDF; the
    # grouping is one combinable agg over 16-char hashes
    "dhash_groups": (
        [r"MapInPandas", r"partial_count"],
        [r"CartesianProduct", r"BatchEvalPython"],
    ),
    # FD discovery (r8): per pair a distinct reduction + combinable
    # determinant agg, unioned lazily — no join, no Python
    "fd_discovery": (
        [r"partial_count", r"Union"],
        [r"Join", r"CartesianProduct", *NO_PYTHON],
    ),
    # attribution (r8): ONE equi-join on user (range residual rides the
    # hash join) + combinable struct-min/max agg — never a BNLJ range
    # join, never a window sort over raw touches
    "attribution_position": (
        [r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         r"partial_min", r"partial_max"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window",
         *NO_PYTHON],
    ),
    # rendezvous routing (r9): the argmax over per-shard md5 weights is
    # a map-side expression — the ONLY exchange is the final per-shard
    # rollup; no join of any kind, no Python
    "rendezvous_reshard": (
        [r"partial_count"],
        [r"Join", r"CartesianProduct", r"Window", *NO_PYTHON],
    ),
    # l-diversity (r9): two combinable aggs, no join, no window
    "l_diversity_audit": (
        [r"partial_count|partial_sum"],
        [r"Join", r"CartesianProduct", r"Window", *NO_PYTHON],
    ),
    # t-closeness (r9): the cell grid comes from the ALLOWLISTED
    # census-sized BNLJ (see test_plan_lint); everything else is
    # combinable aggregation — no sort-merge over data, no Python
    "t_closeness_audit": (
        [r"partial_count|partial_sum", r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"Window", *NO_PYTHON],
    ),
    # cross-corpus prefix filter (r9): same contract as the self-join —
    # candidates from rank EQUI-joins, never a cross join, never Python
    # (no partial_count pin: the gate emits raw pairs, and the df-count
    # subtree sits behind global_rank's checkpoint cut)
    "prefix_filter_xjoin": (
        [r"HashAggregate|ObjectHashAggregate",
         r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", *NO_PYTHON],
    ),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("-v", "--verbose", action="store_true",
                    help="print full formatted plans")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from hbase_indexer_spark.session import get_spark

    spark = get_spark("explain")
    qs = entry.queries()
    names = args.queries or list(CHECKS)

    import contextlib
    import io

    failures = []
    for name in names:
        df = qs[name](spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if args.verbose or name not in CHECKS:
            print(f"===== {name} =====")
            print(plan)
        must, must_not = CHECKS.get(name, ([], []))
        for pat in must:
            if not re.search(pat, plan, re.S):
                failures.append(f"{name}: missing {pat!r}")
        for pat in must_not:
            if re.search(pat, plan, re.S):
                failures.append(f"{name}: unwanted {pat!r}")
        status = "ok" if not any(f.startswith(name + ":") for f in failures) else "BAD"
        print(f"{status:4} {name}")

    if failures:
        print("\nplan check failures:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print("\nall plan checks pass")


if __name__ == "__main__":
    main()
