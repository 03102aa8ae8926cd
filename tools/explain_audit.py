"""Explain audit: dump the physical-plan properties that matter at
100 TB for the flagship queries, and assert the ones that are
non-negotiable. Output is PLANS.md (committed so the plan shapes are
reviewable without running Spark).

Usage: python tools/explain_audit.py [> PLANS.md]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from mapreduce_inverted_index_spark.plans.registry import all_queries
from mapreduce_inverted_index_spark.session import get_spark

SF = "/root/testdata/sf0.01"

# (query, [must-contain markers], [must-NOT-contain markers])
AUDITS = [
    (
        "inverted_index",
        ["HashAggregate", "partial_"],  # map-side combine (ref X3) is partial agg
        ["SortAggregate"],
    ),
    (
        "filter_pushdown_scan",
        ["PushedFilters: [IsNotNull(l_shipdate)", "GreaterThanOrEqual(l_shipdate"],
        [],
    ),
    (
        "broadcast_join_part_revenue",
        ["BroadcastHashJoin"],
        ["SortMergeJoin"],  # fact side must not shuffle for a dim join
    ),
    (
        "multiway_join_region_revenue",
        ["BroadcastHashJoin", "PushedFilters: [IsNotNull(o_orderdate)"],
        [],
    ),
    (
        "global_topk_orders",
        ["TakeOrderedAndProject"],
        ["Sort ["],  # no global sort for top-k
    ),
    (
        "agg_pricing_summary",
        ["HashAggregate", "partial_"],
        [],
    ),
    (
        "minhash_near_dup",
        ["HashAggregate"],
        ["CartesianProduct"],  # candidates must come from the band join
    ),
    (
        "ann_cosine_topk",
        ["BroadcastNestedLoopJoin"],  # broadcast cross join of tiny query set
        [],
    ),
    (
        # IVF probe: candidate scoring must be a broadcast hash join
        # on the cell key (probe list broadcast), never a shuffle of
        # the vector corpus
        "ann_ivf_topk",
        ["BroadcastHashJoin", "cell"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        "asof_join_event_order",
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],  # no pair explosion
    ),
    (
        # S2 projection feeding the index: strip cascade must stay a
        # scan-side projection (no extra exchange before the agg) and
        # the index agg keeps its map-side combine
        "html_corpus_index",
        ["HashAggregate", "partial_"],
        ["SortAggregate", "CartesianProduct"],
    ),
    (
        # inverted-index co-occurrence form (r12): shared-shingle
        # counts aggregate with map-side partials; no pair-array
        # shipping, never a cross join. (The bounded pair form's
        # chunk-key audit lives on bounded_block_join's other
        # callers, e.g. user_cooccurrence_edges.)
        "ngram_jaccard_pairs",
        ["HashAggregate", "partial_count"],
        ["CartesianProduct"],
    ),
    (
        # decontamination: tiny distinct benchmark shingles broadcast;
        # the corpus side must never shuffle for the overlap join
        "benchmark_decontamination",
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # sequence packing: one window cumsum + one agg, no joins
        "pack_training_sequences",
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # incremental merge: term-keyed outer merge of two partial
        # index builds — hash joins/aggs only, never a pair explosion
        "incremental_index_merge",
        ["HashAggregate", "partial_"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # positional index: same two-aggregate shape as the flagship
        # (map-side partials, positions packed in arrays) — never a
        # sort-based agg or a pair join
        "positional_index",
        ["HashAggregate", "partial_"],
        ["SortAggregate", "CartesianProduct"],
    ),
    (
        # phrase query: token stream joins the k-row (word, slot)
        # table broadcast; the corpus never shuffles for the join
        "phrase_query",
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # BM25: df rows and N/avgdl scalars broadcast; final top-k is
        # TakeOrderedAndProject, never a global sort. All dl/qtf/stats
        # branches must read the persisted tf/dl (InMemoryTableScan) —
        # one physical corpus scan at materialization, not 3-4
        # re-derivations (the r5 regression).
        "bm25_topk",
        ["TakeOrderedAndProject", "BroadcastHashJoin", "InMemoryTableScan"],
        ["CartesianProduct"],
    ),
    (
        # unblocked SimHash near-dups: candidates must come from the
        # (band, key) equi-join — never a pair explosion — and the
        # verify bit_count runs on candidates only
        "simhash_hamming_pairs",
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # aggregate-before-join: lineitem must collapse to per-order
        # sums before any join, and the >250 cut must reach the agg
        "large_volume_orders",
        ["HashAggregate"],
        ["CartesianProduct"],
    ),
    (
        # lang filter must be pushed into the documents scan, and the
        # dedup shuffle must carry hashes, not text
        "corpus_curation_pipeline",
        ["EqualTo(lang,en)"],
        ["CartesianProduct"],
    ),
    (
        # gaps-and-islands: both windows and the final agg share one
        # user_id exchange — exactly one shuffle in the whole plan
        "sessionize_events",
        ["Window"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # time-RANGE frame is a window, not a self-join range explosion
        "time_range_window_orders",
        ["Window"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # all-pairs cosine: candidates come from the term equi-join
        # (Σ df² bounded by the df cap), never a pair explosion; the
        # scalar N is broadcast
        "tfidf_cosine_pairs",
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["CartesianProduct"],
    ),
    (
        # tf-idf: the tf table feeds the join's left side AND the df
        # aggregation — it must be persisted so the explode + regex
        # tokenize runs once, not once per branch (bm25_rank pattern)
        "tf_idf",
        ["InMemoryTableScan", "HashAggregate"],
        ["CartesianProduct"],
    ),
    (
        # heavy hitters: candidate set must broadcast into the verify
        # join (the only shuffle carries candidate keys), and the MG
        # pass is an Arrow-batched python map, not a per-row UDF
        "frequent_bigrams",
        ["BroadcastHashJoin", "MapInPandas"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # fuzzy matching: blocked pair join with hot-block chunk keys
        # active; the levenshtein runs on bounded prefix keys inside
        # the join filter — never a pair explosion
        "fuzzy_key_pairs",
        ["_ca", "levenshtein"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # bucketed index tier: the tf rollup's partial+final aggregate
        # runs straight off the bucketed scan and the term join
        # broadcasts the tiny rolled-up side — NO shuffle Exchange
        # anywhere in the plan (the 100 TB per-query probe shape)
        "term_lookup_bucketed",
        ["BroadcastHashJoin", "Bucketed: true"],
        ["Exchange hashpartitioning", "SortMergeJoin", "CartesianProduct"],
    ),
    (
        # unblocked fuzzy matching: candidates from the PassJoin
        # (seg, content) equi-join — never a pair explosion — and the
        # thresholded levenshtein verifies candidates only
        "fuzzy_unblocked_pairs",
        ["levenshtein"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # passage hygiene: the boilerplate set must broadcast into the
        # flagging join (corpus annotated map-side, one rollup
        # shuffle), aggregates keep map-side partials
        "boilerplate_profile",
        ["BroadcastHashJoin", "HashAggregate", "partial_"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # substring dedup: rolling-window hashes aggregate with
        # map-side partials; the duplicate-window set joins back by
        # HASH (broadcast at fixture scale, SMJ acceptable at 100 TB
        # — either way never all-pairs); span merge is a
        # per-document Window (partitioned — no global sort)
        "duplicate_spans_docs",
        ["HashAggregate", "partial_", "Window"],
        ["CartesianProduct"],
    ),
    (
        # shard manifest: scan-side md5 assignment + one aggregate —
        # no join of any kind in the plan
        "shard_manifest_docs",
        ["HashAggregate", "partial_"],
        ["Join", "CartesianProduct", "Exchange rangepartitioning"],
    ),
    (
        # deterministic group sample: one windowed shuffle on the
        # group key, no joins
        "group_sample_docs",
        ["Window"],
        ["Join", "CartesianProduct"],
    ),
    (
        # MERGE upsert: union + one windowed shuffle on the merge key
        # + rollup — no join, no pair explosion
        "snapshot_merge_orders",
        ["Union", "Window", "HashAggregate"],
        ["Join", "CartesianProduct"],
    ),
    (
        # co-occurrence edges: blocked self-join with hot-context
        # chunk keys active — never a pair explosion
        "user_cooccurrence_edges",
        ["_ca"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # triangles: wedge/closing equi-joins plus 1-row scalar
        # crossJoins only — a true cartesian pair explosion must
        # never appear
        "event_graph_triangles",
        ["HashAggregate"],
        ["CartesianProduct"],
    ),
    (
        # gap codec: encode+decode+roundtrip all fused into the index
        # aggregate's single pass (map-side partials, no sort agg)
        "gap_encoded_index",
        ["HashAggregate", "partial_"],
        ["SortAggregate", "CartesianProduct", "Join"],
    ),
    (
        # semantic dedup: candidates from the cell-blocked join with
        # hot-cell chunk keys (the N² anchor exists only inside this
        # contract query's brute branch — candidates never explode)
        "semantic_dedup_contract",
        ["_ca"],
        ["CartesianProduct"],
    ),
    (
        # z-order layout: cell maps come from histogram windows
        # (the SinglePartition exchanges in this plan hold only
        # distinct-value histograms) and BROADCAST back onto the
        # facts — the fact table is never sorted, windowed, or
        # shuffle-joined to get its key
        "zorder_layout_orders",
        ["HashAggregate", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # LM quality scoring: the unigram LM and corpus scalars
        # broadcast; tf feeds three branches off ONE persisted
        # materialization (InMemoryTableScan), not three corpus
        # re-derivations — the bm25 lesson applied at birth
        "lm_quality_scores",
        ["BroadcastHashJoin", "InMemoryTableScan", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # IVF over the materialized cell layout: the corpus scan must
        # carry a cell partition filter (probe IO = n_probe/n_cells
        # of the corpus at the FILE level) and join the broadcast
        # probe list — never shuffle or cross-join the vectors
        "ann_ivf_pruned_scan",
        ["PartitionFilters: [cell", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # SCD2 build: lag + filter + lead over the SAME key window —
        # one shuffle, no join anywhere in the plan
        "scd2_order_status_history",
        ["Window"],
        ["Join", "CartesianProduct"],
    ),
    (
        # compaction planner: one window cumsum over file METADATA
        # plus the job rollup — no join, no pair work
        "compaction_plan_files",
        ["Window", "HashAggregate"],
        ["Join", "CartesianProduct"],
    ),
    (
        # RAG chunking: generator + slice projection only — a pure
        # map pipeline; ANY exchange here means the chunker broke
        "rag_chunk_docs",
        ["Generate explode"],
        ["Exchange", "Join"],
    ),
    (
        # policy filter: pure per-row projection the scan evaluates —
        # no exchange, no join, no aggregate
        "curation_policy_filter",
        [],
        ["Exchange", "Join", "HashAggregate"],
    ),
    (
        # join-skew scout: key histograms (map-side combined) joined
        # at distinct-key size, top-n via bounded heap — never a
        # global sort, never a pair explosion
        "join_skew_profile_events",
        ["HashAggregate", "partial_", "TakeOrderedAndProject"],
        ["CartesianProduct", "Sort ["],
    ),
    (
        # EWMA fold: one key-partitioned window carrying the bounded
        # collect_list + aggregate() fold — no join, no pair work
        "ewma_user_values",
        ["Window"],
        ["Join", "CartesianProduct"],
    ),
    (
        # media perceptual near-dup: candidates from the (band, key)
        # equi-join over the PERSISTED signature table — the per-byte
        # HOF hash must never be inlined past the self-join
        # (InMemoryTableScan proves the materialization; measured
        # 264 s -> 2 s on 500 docs without it) and no pair explosion
        "media_phash_near_dup",
        ["InMemoryTableScan"],
        ["CartesianProduct"],
    ),
    (
        # negative sampler: dense-rank window + k-way explode joined
        # back on the integer rank — the only nested-loop join is the
        # broadcast 1-row N scalar, never a corpus pair explosion
        "contrastive_negatives_docs",
        ["Window", "Generate explode"],
        ["CartesianProduct"],
    ),
    (
        # hard negatives: anchors broadcast over the corpus scan
        # (same shape as ann_cosine_topk), per-anchor top-k window —
        # the corpus never shuffles for the scoring join
        "hard_negatives_topk",
        ["BroadcastNestedLoopJoin", "Window"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # resize: one Arrow-batched map stage over payloads — any
        # exchange or join here means the narrow-map contract broke
        "media_resize_pixels",
        ["MapInPandas"],
        ["Exchange", "Join"],
    ),
    (
        # token-id encoding: vocab joins BROADCAST (the corpus never
        # shuffles for the lookup); the only wide ops are the vocab
        # count and the per-doc collect
        "vocab_token_ids",
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # Q4 shape: correlated EXISTS declared as its decorrelated
        # LEFT SEMI join (lateness predicate as the join residual) —
        # no per-order subquery re-execution, no pair explosion
        "late_order_priority_counts",
        ["LeftSemi", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # Q17 shape: the correlated per-part AVG is an aggregate
        # joined back on l_partkey; the brand dim semi-joins the
        # aggregate's INPUT first (broadcast) — the magic-set
        # rewrite, so per-part stats exist only for surviving parts
        "small_qty_part_revenue",
        ["LeftSemi", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # Q21 shape: both correlated subqueries collapse into ONE
        # per-order countDistinct joined back off the PERSISTED
        # lineitem-orders join (InMemoryTableScan — computed once,
        # read twice); top-20 is a bounded heap, never a global sort
        "waiting_orders_suppliers",
        ["InMemoryTableScan", "TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    (
        # Q15 shape: the scalar MAX subquery is an agg + 1-row
        # broadcast equality filter over the PERSISTED revenue CTE
        # (computed once, read twice); supplier dim broadcast
        "top_revenue_supplier",
        ["InMemoryTableScan", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    (
        # series densify: per-key spine generated executor-side
        # (sequence+explode), fill is one key window — no global
        # calendar cross join, no pair explosion
        "gap_fill_daily_user_values",
        ["Window", "Generate explode"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # split assignment is a pure scan projection; the only wide
        # op is the profiling rollup (map-side combined) — no join
        "train_val_test_split",
        ["HashAggregate", "partial_"],
        ["Join", "CartesianProduct"],
    ),
    (
        # UDAF API demo: the grouped-agg Pandas node (documented: no
        # partial agg — the builtin twin is the production path)
        "grouped_agg_pandas_wavg",
        ["ArrowAggregatePython"],
        ["Join", "CartesianProduct"],
    ),
    (
        # canonical-keeper selection: per-component window over the
        # (small) clustered-docs table; candidates still come from
        # the banded pair join — never a pair explosion
        "dedup_keep_best",
        ["Window"],
        ["CartesianProduct"],
    ),
    (
        # Q7 shape: nation-filtered dims broadcast; the ship-date
        # filter reaches the lineitem scan; the only shuffle is the
        # lineitem-orders fact join
        "volume_shipping_nation_pairs",
        ["BroadcastHashJoin", "PushedFilters: [IsNotNull(l_shipdate)"],
        ["CartesianProduct"],
    ),
    (
        # Q8 shape: part/customer/supplier dims all broadcast around
        # the one fact-fact shuffle
        "nation_market_share",
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    (
        # Q9 shape: LIKE-filtered part + supplier->nation broadcast
        "product_type_profit",
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    (
        # Q14 shape: month filter pushed to the lineitem scan, part
        # dim broadcast — zero shuffles of fact rows
        "promo_revenue_share",
        ["BroadcastHashJoin", "PushedFilters: [IsNotNull(l_shipdate)"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # Q19 shape: the common equi-conjunct keeps this a HASH join
        # with the OR-of-conjunctions as residual (never nested-loop);
        # hand-derived union bounds reach BOTH scans
        "disjunctive_predicate_revenue",
        [
            "BroadcastHashJoin",
            "GreaterThanOrEqual(l_quantity,1.0)",
            "LessThanOrEqual(l_quantity,30.0)",
            "In(p_brand",
        ],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    (
        # Q2 shape: correlated scalar MIN -> per-part agg equality
        # join; part filter semi-joins the agg input first; top-100
        # is a bounded heap
        "min_cost_part_suppliers",
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    (
        # Q11 shape: nation-filtered shipments persisted across the
        # per-part and global-total branches (computed once); the
        # scalar total is a 1-row broadcast
        "important_part_value_share",
        ["InMemoryTableScan", "LeftSemi"],
        ["CartesianProduct"],
    ),
    (
        # Q16 shape: denylist NOT IN -> broadcast LEFT ANTI before
        # the distinct aggregation; no fact shuffle for any dim
        "supplier_cnt_by_part_attrs",
        ["LeftAnti", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # Q20 shape: one persisted year-filtered scan feeds both the
        # per-(part,supp) and per-part aggregates; IN -> semi-join
        "excess_shipped_part_suppliers",
        ["InMemoryTableScan", "LeftSemi"],
        ["CartesianProduct"],
    ),
    (
        # global training-order shuffle: ranks come from the range-
        # partition + prefix-sum path (RDD scan), NEVER a global
        # row_number window through a single task
        "corpus_shuffle_order",
        ["Scan ExistingRDD"],
        ["Window ["],
    ),
    (
        # CMS: build is one partial-aggregated pass (the shuffle
        # merges 256-cell partials, never raw keys); the 256-row
        # sketch is persisted and estimation joins it broadcast
        "cms_user_counts",
        ["InMemoryTableScan", "BroadcastHashJoin", "partial_count"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # Gram matrix: one ArrowEvalPython/mapInPandas pass emitting
        # per-batch d x d integer partials; the only shuffle is the
        # O(d^2)-row final sum — no explode, no self-join
        "embedding_gram_matrix",
        ["MapInPandas", "partial_sum"],
        ["SortMergeJoin", "CartesianProduct", "Generate explode"],
    ),
    (
        # funnel: every stage joins on user_id with partial min-aggs;
        # type filters reach the events scans
        "event_funnel_conversion",
        ["partial_min", "PushedFilters: [IsNotNull(event_type)"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # cohort retention: two user-keyed aggregates + one user-keyed
        # join; output is O(weeks^2) regardless of N
        "user_retention_cohorts",
        ["HashAggregate", "partial_min"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # custom Python DataSource: the aggregate runs over the
        # connector's BatchScan with map-side partials; pages are
        # the input partitions
        "crawl_source_docs",
        ["BatchScan paged_crawl", "partial_count"],
        ["CartesianProduct"],
    ),
    (
        # sink roundtrip: after the transactional write, the read-back
        # is a plain JSON scan + map-side-combined profile
        "crawl_sink_roundtrip",
        ["FileScan json", "partial_count"],
        ["CartesianProduct"],
    ),
    (
        # temperature sampling: rate table broadcasts; the corpus is
        # filtered by a scan predicate, never shuffled
        "temperature_mixture_sample",
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # BPE step: pair counting is explode + partial-aggregated
        # groupBy; the 1-row argmax broadcasts back over the
        # persisted token table
        "bpe_merge_step",
        ["InMemoryTableScan", "partial_count", "TakeOrderedAndProject"],
        ["SortMergeJoin"],
    ),
    (
        # VARIANT path extraction stays a scan-side projection with
        # map-side-combined aggregation — no join, no shuffle of rows
        "variant_events_agg",
        ["partial_sum", "variant_get"],
        ["Join", "CartesianProduct"],
    ),
    (
        # Q10 shape: both fact filters reach their scans before the
        # one fact-fact shuffle; dims broadcast; top-20 bounded heap
        "returned_item_reporting",
        [
            "TakeOrderedAndProject",
            "BroadcastHashJoin",
            "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)",
        ],
        ["CartesianProduct"],
    ),
    (
        # equi-depth boundaries: one sort-based aggregate, no join
        "range_partition_boundaries",
        ["percentile_disc"],
        ["Join", "CartesianProduct"],
    ),
    (
        # sort-based skyline: the only full-data shuffle is the
        # partial-agg groupBy on the date axis; the running-max
        # window runs over the distinct-date axis only and maps back
        # via broadcast — the fact table is never window-sorted
        "skyline_orders",
        ["BroadcastHashJoin", "partial_max"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # sufficient-statistic regression: 5 exact sums combine
        # map-side; nation broadcasts; customer-orders is the one
        # fact-fact shuffle
        "nation_revenue_trend",
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct"],
    ),
    (
        # Hellinger: one explode + one partial-agg groupBy carries
        # BOTH sides' counts (conditional sums — no per-side scan,
        # no join of two aggregates); 1-row totals broadcast
        "source_token_hellinger",
        ["partial_sum", "BroadcastNestedLoopJoin"],
        ["SortMergeJoin"],
    ),
    (
        # distributed sweep-line: the event cumsum must be a window
        # PARTITIONED by the range bucket (parallel), with exact
        # percentile_disc cuts; the ledger/cuts sides broadcast
        "peak_concurrent_sessions",
        ["windowspecdefinition(_pid", "percentile_approx"],
        ["CartesianProduct"],
    ),
    (
        # linear probe: ONE sufficient-statistic aggregate with
        # map-side combine; no join, no window, no second scan
        "linear_probe_embeddings",
        ["partial_sum", "partial_count"],
        ["Join", "Window", "CartesianProduct"],
    ),
    (
        # chi-square: contingency cells partial-aggregate; the
        # densify grid + margin windows run over the tiny cell
        # table; the grid cross of two distinct sets broadcasts
        "event_type_hour_chi2",
        ["partial_count", "BroadcastNestedLoopJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # entropy: explode + partial-agg groupBy(term) + 1-row
        # rollup; no join anywhere
        "corpus_token_entropy",
        ["partial_count", "partial_sum"],
        ["Join", "CartesianProduct"],
    ),
    (
        # exact AUC: per-score partial agg is the only full-data
        # shuffle; the prefix runs bucket-partitioned (parallel
        # windows), never a global single-partition window over the
        # score axis; cuts/ledger broadcast
        "embedding_dim_auc",
        ["windowspecdefinition(_pid", "percentile_approx", "partial_sum"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # Markov transitions: one lag window + one partial-agg
        # groupBy; normalization windows over the tiny pair table;
        # no join anywhere
        "event_transition_matrix",
        ["Window", "partial_count"],
        ["Join", "CartesianProduct"],
    ),
    (
        # quantile normalization: bucketed exclusive prefix (shared
        # primitive), map-back join on the quantized score; no
        # global single-partition window over the score axis
        "embedding_quantile_normalize",
        ["windowspecdefinition(_pid", "percentile_approx"],
        ["CartesianProduct"],
    ),
    (
        # Gini: per-customer rollup + per-value rollup partial-agg;
        # prefix bucket-partitioned; decimal-exact rank sums
        "customer_revenue_gini",
        ["windowspecdefinition(_pid", "partial_sum"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # ANOVA: one partial-agg groupBy of sufficient stats + a
        # 1-row rollup; no join, no window
        "label_embedding_anova",
        ["partial_sum", "partial_count"],
        ["Join", "Window", "CartesianProduct"],
    ),
    (
        # mixture report: the tokenize/normalize scan is persisted
        # (read back from cache by both rollups); dup join and share
        # window run on rolled-up rows
        "source_mixture_report",
        ["InMemoryTableScan", "partial_count"],
        ["CartesianProduct"],
    ),
    (
        # salted skew join: the hot-key census broadcasts into
        # semi/anti splits (no pre-join shuffle), right-side salt
        # replication is an explode of a constant-folded sequence,
        # and the two paths union; the only shuffles are the two
        # path joins themselves
        "salted_skew_join_events",
        ["BroadcastHashJoin", "Union", "Generate explode("],
        ["CartesianProduct"],
    ),
    (
        # keyless band self-join: the bare inequality predicate
        # would plan as BroadcastNestedLoopJoin; grid bucketing
        # must turn it into a hash join on the time bin with a 3x
        # explode on one side
        # "Join [" matches any EQUI-join family (BroadcastHash/
        # ShuffledHash/SortMerge all print "...Join [keys]"); BNLJ
        # prints no key list, so it can't satisfy the marker — the
        # audit stays green if stats growth flips broadcast to SMJ,
        # which is this operator's whole point at scale
        "keyless_band_pairs_events",
        ["Generate explode(", "Join ["],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    (
        # hashed classifier: the weight dimension must broadcast
        # (never shuffle the token stream against it) and the margin
        # sum must partial-agg map-side
        "quality_classifier_margins",
        ["BroadcastHashJoin", "partial_sum", "partial_count"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # Heaps curve: both cumulative axes must run as bucketed
        # (_pid-partitioned) prefix windows, never one global window
        # over the doc axis; term-novelty is a partial-agg groupBy
        "vocab_growth_curve",
        ["windowspecdefinition(_pid", "partial_count", "partial_min"],
        ["CartesianProduct"],
    ),
    (
        # weighted sample: global top-k must be per-partition heaps
        # (TakeOrderedAndProject), never a full sort of the corpus
        "weighted_sample_docs",
        ["TakeOrderedAndProject"],
        ["Sort [", "Exchange rangepartitioning"],
    ),
    (
        # bootstrap: all 32 replicates ride ONE aggregate as
        # bit-guarded conditional sums (partial agg; data rows never
        # explode or shuffle); the only Generate is the 1-row
        # replicate unpivot
        "bootstrap_ci_price",
        ["Generate explode(", "partial_sum", "partial_count"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    (
        # DSIR: the <=4096-row log-ratio dim must broadcast into the
        # (doc, bucket) stream (the corpus shuffles once, on the
        # partial-agg groupBy). A SortMergeJoin IS present and fine:
        # it's the full-outer join BUILDING the dim from the two
        # bucket histograms — both sides bounded at n_buckets rows
        # (full outer can't broadcast), so it can't be forbidden
        # plan-wide without masking the one that matters.
        "dsir_importance_weights",
        ["BroadcastHashJoin", "partial_count", "partial_sum"],
        ["CartesianProduct"],
    ),
    (
        # incremental semantic dedup contract: the broadcast batch
        # side must trigger DYNAMIC partition pruning on the stored
        # cell-partitioned state scan (candidate IO, not just
        # compute, is r/n_cells of the corpus). The contract's brute
        # anchor crossJoin is the verification side, sf-gated — so
        # CartesianProduct is expected and not forbidden here.
        "semantic_incremental_contract",
        ["dynamicpruning", "PartitionFilters"],
        [],
    ),
    (
        # BPE encode: the merge chain must live in the scan-side
        # projection (a chain of replace()s — no UDF, no join) and
        # the symbol count must partial-agg map-side
        "bpe_encode_docs",
        ["replace(", "partial_count"],
        ["Join", "CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    (
        # prefix probe over the stored index: the LIKE 's%' must reach
        # the parquet reader as a pushed StringStartsWith (with the
        # sortBy(term) layout that makes row-group min/max skipping
        # effective), and the probe is scan-only — no join
        "prefix_query_index",
        ["PushedFilters: [IsNotNull(term), StringStartsWith(term,s)]"],
        ["Join", "CartesianProduct", "Exchange rangepartitioning", "Sort ["],
    ),
    (
        # incremental near-dup: the batch's signature mins partial-agg
        # map-side; the band join against the STORED state and the
        # shingle verifies are equi-joins (batch side broadcastable),
        # never a pair enumeration
        "minhash_incremental_dedup",
        ["partial_min", "Join ["],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    (
        # auto-routed join at the audit SF takes the salted path
        # (customer 1500 > 1000-row broadcast probe, max per-user
        # count 86 >= 60): same shape contract as salted_skew_join —
        # broadcast census splits, constant-sequence salt explode,
        # union of hot+cold paths
        "auto_routed_join_events",
        ["BroadcastHashJoin", "Union", "Generate explode("],
        ["CartesianProduct"],
    ),
    (
        # IVF-backed hard negatives: the probed-cell literal must
        # reach the cell store's file index as a partition filter
        # (candidate IO = n_probe/n_cells); the exact-form anchor's
        # broadcast cross join is the verification side and expected
        "hard_negatives_ivf_contract",
        ["PartitionFilters: [cell", "BroadcastHashJoin"],
        ["SortMergeJoin"],
    ),
    (
        # index deletion has one plan at every batch size: each row
        # filters its own postings against one InSet of the dead ids
        # (no explode, no join). The catalog query builds the index in
        # the same plan, so the build's groupBy(term) Exchange is
        # there; the store delete's no-Exchange plans are
        # pytest-pinned (tests/test_store_open.py)
        "index_delete_docs",
        ["INSET", "filter(postings"],
        ["Generate explode(postings", "Join", "SortMergeJoin", "CartesianProduct"],
    ),
    (
        # bloom runtime filter: the bit-test conjunction must sit in
        # the fact scan's Filter (shiftleft against the literal
        # bitmap), the dim join broadcasts, and the rollup partial-aggs
        "bloom_prefilter_join_revenue",
        ["shiftleft", "BroadcastHashJoin", "partial_count"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    (
        # SMB fact-fact join: both bucketed scans selected in full
        # (SelectedBucketsCount), SortMergeJoin pinned by the merge
        # hint, and NO exchange feeding it — the only Exchange in the
        # plan is the post-join rollup's (exact count pytest-pinned)
        "smb_join_lineitem_orders",
        ["SortMergeJoin", "SelectedBucketsCount: 16 out of 16"],
        ["BroadcastHashJoin", "CartesianProduct"],
    ),
    (
        # bigram LM: adjacent-slot explode (no window), broadcast LM
        # join, decimal partial sums; Python never touches a row
        "lm_bigram_quality_scores",
        ["Generate explode", "BroadcastHashJoin", "partial_sum"],
        ["Window", "BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
    ),
    (
        # doc-keyed co-located bucket pair: tf x dl joins
        # pre-partitioned pre-sorted buckets — ZERO Exchange anywhere
        # (not even a rollup's; dl is precomputed at write time)
        "colocated_doc_tf_norm",
        ["SortMergeJoin", "Bucketed: true"],
        ["Exchange", "BroadcastHashJoin"],
    ),
    (
        # partitioned index STORE probe: the driver reads only the
        # probe terms' bucket files and hands back local rows — no
        # file scan, no join, no shuffle
        "term_lookup_store_pruned",
        ["LocalTableScan"],
        ["FileScan", "Exchange", "Join"],
    ),
    (
        # co-located BM25: the per-query doc-axis shuffle is gone —
        # qtf x dl is a bucket SortMergeJoin, top-k never global-sorts
        "bm25_topk_colocated",
        ["SortMergeJoin [doc_id", "TakeOrderedAndProject"],
        ["hashpartitioning(doc_id"],
    ),
    (
        # skip-gram pairs: pure array expression, no positional
        # self-join; the single shuffle is the pair-count aggregate
        "skipgram_cooccurrence",
        ["Generate explode", "HashAggregate", "partial_count"],
        ["Join", "BatchEvalPython", "Window"],
    ),
    (
        # user-bucketed funnel: three per-user aggs + two stage joins
        # all on the bucket distribution — zero user_id re-shuffle
        "event_funnel_colocated",
        ["SortMergeJoin [user_id", "Bucketed: true"],
        ["hashpartitioning(user_id"],
    ),
    (
        # Q2 on the derived partsupp (r13): region supplier dim and
        # part filter broadcast; min-cost verify joins on integer
        # cents; top-100 is a bounded heap; partsupp derivation is a
        # map-only explode over the part scan (no shuffle before the
        # min agg)
        "min_cost_supplier_partsupp",
        ["TakeOrderedAndProject", "BroadcastHashJoin", "Generate explode"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    (
        # Q11 on the derived partsupp: the nation-filtered cents×qty
        # rows persist across the per-part and global-total branches;
        # the only cross join is the broadcast 1-row total
        "stock_value_share_partsupp",
        ["BroadcastNestedLoopJoin", "InMemoryTableScan", "partial_sum"],
        ["SortMergeJoin"],
    ),
    (
        # Q16 on the derived partsupp: denylist anti-join broadcasts
        # and runs BEFORE the distinct aggregation
        "supplier_cnt_partsupp",
        ["BroadcastHashJoin", "LeftAnti", "partial_count(distinct"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    (
        # Q20 on the derived partsupp: the 1996 lineitem aggregate is
        # the only fact shuffle (partial_sum map-side); part/nation
        # dims broadcast; availqty*2 > sq compares exact bigints
        "excess_availability_partsupp",
        ["BroadcastHashJoin", "partial_sum", "PushedFilters: [IsNotNull(l_shipdate)"],
        ["CartesianProduct"],
    ),
]

# Non-catalog plan audits: (name, builder(spark) -> DataFrame, must,
# must_not) — for operator ROUTES a catalog query can't pin (the
# catalog runs the auto route; these force the other side).
def _lm_bigram_shuffle_route(spark):
    from mapreduce_inverted_index_spark.operators.textstats import (
        lm_bigram_scores,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    return lm_bigram_scores(
        load_table(spark, SF, "documents"), broadcast_max_rows=0
    )


EXTRA_AUDITS = [
    (
        # the oversized-LM route (corpus-induced bigram tables are
        # NOT executor-memory-bounded): every LM-sized join — keys
        # prev / w / (prev, w) — must be a shuffle hash join; only
        # the 1-row totals dim and the doc-keyed output join may
        # broadcast. Values identical to the broadcast route
        # (pytest-pinned, tests/test_round9_ops.py).
        "lm_bigram_quality_scores[shuffle-route]",
        _lm_bigram_shuffle_route,
        ["ShuffledHashJoin", "partial_sum"],
        ["BroadcastHashJoin [prev", "BroadcastHashJoin [w#",
         "BatchEvalPython", "CartesianProduct"],
    ),
]


def main() -> None:
    spark = get_spark(
        app_name="explain-audit",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    queries = all_queries()
    print("# PLANS — physical-plan audit (generated by tools/explain_audit.py)")
    print()
    print("Markers asserted per query; full scan/join/agg lines quoted.")
    failures = []
    audits = [
        (name, lambda s, n=name: queries[n].fn(s, SF), must, must_not)
        for name, must, must_not in AUDITS
    ] + EXTRA_AUDITS
    for name, build, must, must_not in audits:
        plan = (
            build(spark)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        print(f"\n## {name}\n")
        for m in must:
            ok = m in plan
            print(f"- REQUIRE `{m}` → {'OK' if ok else 'MISSING'}")
            if not ok:
                failures.append((name, f"missing {m}"))
        for m in must_not:
            ok = m not in plan
            print(f"- FORBID  `{m}` → {'OK' if ok else 'PRESENT'}")
            if not ok:
                failures.append((name, f"forbidden {m}"))
        interesting = [
            line.strip()
            for line in plan.splitlines()
            if re.search(
                r"FileScan|PushedFilters|ReadSchema|HashJoin|SortMergeJoin|"
                r"TakeOrdered|HashAggregate\(keys|Window \[|Generate explode",
                line,
            )
        ]
        print("\n```")
        for line in interesting[:12]:
            # scrub process-unique suffixes (pid-keyed temp tables) so
            # regenerating PLANS.md is idempotent across runs
            print(re.sub(r"(mii_\w+?_[0-9a-f]{6})_\d+", r"\1_<pid>", line[:160]))
        print("```")
    if failures:
        print("\nFAILURES:", failures, file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
