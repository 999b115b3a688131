"""Plan-quality + semantic checks for the driver-contract queries in
__spark_entry__.py that encode explicit scale strategies (broadcast range
join, salting, SQL-facade pushdown). Runs at sf0.001."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_range_join_broadcasts_band_dim(spark):
    df = entry.q_range_join_bands(spark, SF)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    # the 10-row dim is the broadcast side; the fact scan never shuffles
    # before the join
    assert plan.index("BroadcastNestedLoopJoin") < plan.index("FileScan")


def test_sql_q3_pushes_segment_filter_to_scan(spark):
    df = entry.q_sql_tpch_q3(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, plan


def test_join_revenue_broadcasts_dims(spark):
    df = entry.q_join_revenue(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    got = {
        r["o_orderpriority"]: (r["revenue"], r["n_items"])
        for r in entry.q_salted_join_agg(spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,2)")
    want = {
        r["o_orderpriority"]: (r["revenue"], r["n_items"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .collect()
    }
    assert got == want


def test_multimodal_payload_never_shuffles(spark):
    """Binary payloads must never cross an exchange. The one allowed
    Exchange is the text-only fan-out BELOW the payload-building
    MapInPandas (children print below parents in the plan string), so
    every shuffled row is (media_id, text) — payloads exist only above
    it."""
    df = entry.q_multimodal_features(spark, SF)
    plan = plan_of(df)
    assert plan.count("Exchange") == 1, plan
    assert plan.rfind("MapInPandas") < plan.find("Exchange"), plan


def test_subtree_agg_is_single_shuffle(spark):
    """Ancestor-explode subtree rollup: one exchange total (partial agg
    before the shuffle, final agg after) — no join, no second pass."""
    df = entry.q_subtree_agg(spark, SF)
    plan = plan_of(df)
    assert plan.count("Exchange") == 1, plan


def test_registered_dir_stats_broadcasts_watchlist(spark):
    """The watch list must be the broadcast side of a prefix join — the
    inode scan happens once regardless of how many dirs are watched."""
    df = entry.q_registered_dir_stats(spark, SF)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_quota_flags_joins_broadcast(spark):
    """Both quota-flag joins (ancestor→quota-dir semi, flags→inodes
    enrich) should be broadcast — the quota-dir set is tiny at any scale."""
    df = entry.q_quota_flags(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_file_type_histogram_stays_codegen(spark):
    """The 65-category classifier is one CASE chain: single shuffle, no
    python UDF anywhere in the plan."""
    df = entry.q_file_type_histogram(spark, SF)
    plan = plan_of(df)
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_term_stats_broadcasts_corpus_size(spark):
    """The corpus-size scalar must join in as a broadcast (no shuffle of
    the term table against a 1-row frame) and the term aggregate must
    partial-aggregate map-side before its exchange."""
    df = entry.q_term_stats(spark, SF)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-k, not a global sort


def test_dedup_clusters_converges_and_edges_cached(spark):
    """The label-propagation loop must return one row per doc and its
    per-round plan must stay bounded (localCheckpoint cuts lineage, so
    the final plan contains no recursive join tower)."""
    docs = entry._t(spark, SF, "documents")
    from nnanalytics_spark.pipeline import dedup

    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.6)
    out = dedup.dup_clusters(docs, pairs)
    assert out.count() == docs.count()
    # the returned frame's plan is a checkpoint scan, not the loop lineage
    assert "Scan ExistingRDD" in plan_of(out), plan_of(out)


def test_sql_q5_broadcasts_all_dims_one_fact_shuffle(spark):
    """TPC-H Q5: every dim join must be a BroadcastHashJoin; the only
    SortMergeJoin (if any) is the orders⋈lineitem fact join, so at most
    two fact-table exchanges feed the join tree."""
    df = entry.q_sql_tpch_q5(spark, SF)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "PushedFilters" in plan
    rows = df.collect()
    assert len(rows) >= 1 and all(r["revenue"] > 0 for r in rows)


def test_profile_is_two_lean_scans_no_expand(spark):
    """The exact column profiler plans the two-scan unpivot strategy
    (r7): one plain aggregate pass for n/nulls/min/max plus one stacked
    (column, value) dedup pass — and NO Expand anywhere (the Expand
    multiplied every row by the profiled-column count and was the
    slowest non-streaming bench row in r6; measured 2.7x faster)."""
    df = entry.q_profile_table(spark, SF)
    plan = plan_of(df)
    assert plan.count("FileScan") == 2, plan
    assert "Expand" not in plan, plan


def test_video_payloads_never_shuffle(spark):
    """AVI encode → decode is map-side only: no Exchange anywhere."""
    df = entry.q_video_decode(spark, SF)
    plan = plan_of(df)
    # the encode→decode chain is exchange-free; only the final orderBy
    # introduces a (range) exchange, and nothing sits between the two
    # mapInPandas stages
    assert plan.count("Exchange") <= 2, plan
    assert "rangepartitioning" in plan.lower() or plan.count("Exchange") == 0, plan
    assert plan.count("FileScan") == 1, plan


def test_mixture_upsample_is_map_side(spark):
    """Mixture upsampling is a pure projection+explode: no Exchange."""
    df = entry.q_mixture_epochs(spark, SF)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan


def test_ann_ivf_search_partition_pruned(spark):
    """The driver's IVF search (nprobe=4 of 16) over the persisted index
    must plan as a partition-pruned scan: cell IN (...) in
    PartitionFilters (decided from directory names), NOT a row-level
    DataFilter over a full read (VERDICT r3 #4)."""
    df = entry.q_ann_ivf_topk(spark, SF)
    plan = plan_of(df)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    assert "PartitionFilters: [cell" in scans[0] and " IN (" in scans[0], scans[0]
    assert "DataFilters: []" in scans[0], scans[0]


def test_key_skew_two_aggregates_one_scan(spark):
    df = entry.q_key_skew(spark, SF)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1, plan


def test_bucketed_join_plan_is_shuffle_free(spark):
    """The catalog bucketed join: no Exchange feeding the join (bucket
    metadata satisfies the distribution on both sides)."""
    df = entry.q_bucketed_join(spark, SF)
    plan = plan_of(df)
    join_pos = plan.find("SortMergeJoin")
    if join_pos == -1:
        pytest.skip("AQE chose a different join (tiny sf) — covered in test_sources")
    before_join = plan[join_pos:]
    assert "Exchange hashpartitioning(l_orderkey" not in before_join, plan


def test_gopher_rules_is_map_only(spark):
    """The Gopher composite filter is a single map-side scan: no Exchange,
    no Python eval (pure codegen array/regexp expressions)."""
    df = entry.q_gopher_quality(spark, SF)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert "FileScan" in plan and plan.count("FileScan") == 1, plan
    assert "Python" not in plan, plan


def test_dsir_one_explode_broadcast_ratios(spark):
    """DSIR: the corpus is exploded ONCE for the distribution estimates
    and once for the per-doc score join; the vocab-sized ratio table
    reaches the score join as a BROADCAST (no shuffle of the exploded
    corpus on the token key beyond the distribution aggregate)."""
    df = entry.q_dsir_weights(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    # exchanges: the per-token aggregate, the final per-doc aggregate,
    # and broadcast exchanges; no extra sort-merge join shuffles
    assert "SortMergeJoin" not in plan, plan


def test_keep_best_single_aggregate_no_window(spark):
    """Survivor selection is ONE hash aggregate (max_by); no window sort
    within groups."""
    df = entry.q_dedup_keep_best(spark, SF)
    plan = plan_of(df)
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_decontaminate_anti_join_broadcasts(spark):
    """The cleaned-corpus anti-join broadcasts the corpus-small
    contaminated-id set."""
    df = entry.q_decontaminate(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_incremental_dedup_corpus_never_broadcast(spark):
    """The corpus side must be filtered by a BROADCAST of the batch keys
    (semi) and the batch anti-joins the broadcast collision set — the
    corpus itself is never the build side of any join."""
    df = entry.q_incremental_dedup(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semdedup_broadcast_assign_no_corpus_shuffle_before_kernel(spark):
    """The assignment stage is map-side (mapInPandas over the scan —
    centroids broadcast, no exchange between the scan and the assign);
    the only exchanges feed the (cell, block-pair) kernel groupBy and
    the final keep-flag join."""
    df = entry.q_semdedup(spark, SF)
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" in plan  # the per-cell BLAS kernel
    # assignment = MapInPandas directly over its scan: in the subtree
    # below the FIRST MapInPandas there is no Exchange
    idx = plan.index("MapInPandas")
    below = plan[idx:]
    first_scan = below.index("Scan parquet")
    assert "Exchange" not in below[:first_scan], plan


def test_bigram_lm_counts_ride_partial_aggregates(spark):
    """Both count shuffles are token-keyed with map-side partial
    aggregation (HashAggregate before each Exchange), and the vocabulary
    scalar arrives via a broadcast join, not a shuffle."""
    df = entry.q_bigram_lm(spark, SF)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan  # the 1-row vocab size
    # partial_count before the exchanges — Spark renders map-side combine
    # as partial_count(1) in HashAggregate
    assert "partial_count" in plan, plan


def test_hashed_features_is_map_only(spark):
    """The hashing trick is one scan, zero exchanges — both hash folds
    and all dim bucket sums happen inside the projection."""
    plan = plan_of(entry.q_hashed_features(spark, SF))
    assert "Exchange" not in plan, plan
    assert "Scan parquet" in plan


def test_count_min_sketch_single_keyed_aggregate(spark):
    """The sketch build shuffles once on (d, bucket) with map-side
    partial counts; the probe side joins broadcast (20 tokens)."""
    from nnanalytics_spark.pipeline import text as t
    sketch = t.count_min_table(entry._t(spark, SF, "documents"), width=16, depth=4)
    plan = plan_of(sketch)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan
    full = plan_of(entry.q_count_min_bound(spark, SF))
    assert "BroadcastHashJoin" in full, full


def test_funnel_single_user_shuffle_no_python(spark):
    """The funnel fold is a codegen'd aggregate lambda: ONE exchange keyed
    on user carries the corpus; the step dim joins as a broadcast loop
    over |steps| rows; no Python eval node anywhere."""
    plan = plan_of(entry.q_funnel_steps(spark, SF))
    assert "Python" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning(u#") == 1, plan


def test_bm25_broadcasts_df_and_stats(spark):
    """Document frequencies (|query| rows) and corpus stats (1 row)
    broadcast; the candidate postings shuffle once on (id, tok). The
    corpus-wide token stream never joins non-broadcast."""
    plan = plan_of(entry.q_bm25_topk(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-k, never a global sort


def test_tpch_q17_decorrelates_to_aggregate_join(spark):
    """The correlated per-part avg must become an aggregate + join (one
    l_partkey exchange), not a per-row subquery re-scan."""
    plan = plan_of(entry.q_sql_tpch_q17(spark, SF))
    assert "avg(l_quantity)" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_tpch_q22_anti_join_broadcasts(spark):
    """NOT EXISTS over recent orders plans as a broadcast LeftAnti with
    the date filter pushed below the join, and the global-average
    threshold rides a broadcast scalar — no correlated re-scan."""
    plan = plan_of(entry.q_sql_tpch_q22(spark, SF))
    assert "LeftAnti" in plan, plan
    assert "PushedFilters" in plan, plan


def test_paragraph_dedup_two_keyed_shuffles(spark):
    """First-occurrence window shuffles once on the paragraph text,
    reassembly shuffles once on doc_id; nothing else moves the corpus."""
    plan = plan_of(entry.q_paragraph_dedup(spark, SF))
    assert "Python" not in plan, plan
    assert plan.count("Exchange hashpartitioning(chunk_text#") == 1, plan


def test_two_stage_distinct_has_no_expand(spark):
    """The skew-safe distinct must be two hash aggregates with map-side
    partial combine — never count_distinct's Expand."""
    plan = plan_of(entry.q_two_stage_distinct(spark, SF))
    assert "Expand" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_tpch_q8_double_nation_alias_broadcasts(spark):
    """The twice-joined nation dim must resolve under both aliases and
    broadcast along with every other dim — one fact-chain shuffle, no
    cartesian artifacts."""
    plan = plan_of(entry.q_sql_tpch_q8(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q10_pushes_quarter_and_flag(spark):
    plan = plan_of(entry.q_sql_tpch_q10(spark, SF))
    assert "EqualTo(l_returnflag,R)" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q2_single_lineitem_pass_window_min(spark):
    """The per-part best cost must be a window min on the cost
    aggregation's own shuffle key — NOT a second aggregate joined back,
    which would plan the lineitem aggregation twice (Spark inlines
    CTEs). One lineitem scan, and a Window node instead of a self-join
    of the cost table."""
    plan = plan_of(entry.q_sql_tpch_q2(spark, SF))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Window" in plan, plan


def test_tpch_q4_exists_plans_as_semi_join(spark):
    plan = plan_of(entry.q_sql_tpch_q4(spark, SF))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q6_is_scan_aggregate_only(spark):
    """Q6 is the pure pushdown benchmark: no join, no hash-partition
    exchange — just scan, filter, partial/final aggregate."""
    plan = plan_of(entry.q_sql_tpch_q6(spark, SF))
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_tpch_q16_not_in_is_null_aware_anti_join(spark):
    plan = plan_of(entry.q_sql_tpch_q16(spark, SF))
    assert "LeftAnti" in plan, plan


def test_tpch_q19_or_predicate_factors_join_key(spark):
    """The OR-of-ANDs predicate shares p_partkey = l_partkey across all
    three disjuncts; Catalyst must factor it into a hash join key (the
    brand/size/quantity triples stay as a residual), never a nested
    loop over lineitem x part."""
    plan = plan_of(entry.q_sql_tpch_q19(spark, SF))
    assert "BroadcastHashJoin [l_partkey" in plan or "hashpartitioning(l_partkey" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q21_semi_and_anti_share_order_key(spark):
    """The waiting-supplier self-probes must plan as one semi and one
    anti join, both keyed on l_orderkey — the key the fact join already
    shuffles on — so the double self-join adds no extra big-table
    exchange."""
    plan = plan_of(entry.q_sql_tpch_q21(spark, SF))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_round_is_single_inflow_exchange(spark):
    """Each PageRank round must be shuffle-shaped as: contribution join
    (on the 8-byte node id) -> ONE inflow hash-aggregate with a partial
    (map-side) phase. The plan after 5 rounds must also stay flat —
    lazy localCheckpoints cut lineage, so no 5-round operator tower."""
    from pyspark.sql import functions as F

    from nnanalytics_spark.pipeline import graph

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.count()
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .select("src", ((F.col("src") * 17 + F.col("k") * 31) % n).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ranks = graph.pagerank(edges, iterations=5)
    plan = plan_of(ranks)
    # the FINAL round's plan reads checkpointed RDDs, not re-derived
    # rounds: exactly one partial/final aggregate pair for the inflow
    assert plan.count("HashAggregate") <= 4, plan
    assert "Scan ExistingRDD" in plan, plan


def test_token_cooccurrence_broadcasts_vocab(spark):
    df = entry.q_token_cooccurrence(spark, SF)
    plan = plan_of(df)
    # the top-40 vocab must ride a broadcast, never a shuffled join side
    assert "BroadcastHashJoin" in plan, plan


def test_pq_report_is_mapside_before_final_agg(spark):
    """PQ encode+error runs in ONE Arrow-batched map-side pass: no
    exchange may appear below the mapInPandas (payload vectors never
    shuffle); the only shuffle is the 8-row per-subspace aggregate."""
    df = entry.q_pq_report(spark, SF)
    plan = plan_of(df)
    map_at = plan.index("MapInPandas")
    below = plan[map_at:]
    assert "Exchange" not in below, plan


def test_zipf_slope_uses_takeordered_not_global_window(spark):
    # the vocabulary cut must plan as a distributed TakeOrdered; the
    # single-partition rank window is only ever fed top_n rows
    df = entry.q_zipf_slope(spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_bpe_merge_step_prunes_before_rank_window(spark):
    df = entry.q_bpe_merge_step(spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_edit_distance_pairs_uses_thresholded_levenshtein(spark):
    # the banded early-exit form (3-arg levenshtein) — a full-matrix
    # levenshtein on document-length strings would be the scale bug
    df = entry.q_edit_distance_pairs(spark, SF)
    plan = plan_of(df)
    assert "levenshtein" in plan, plan
    import re

    assert re.search(r"levenshtein\([^)]*32\)", plan), plan


def test_ngram_novelty_single_gram_exchange(spark):
    """First-occurrence scoring rides ONE gram-partitioned window (the
    ngram_jaccard df-window trick) — a (gram -> min id) aggregate +
    self-join would rebuild and re-exchange the gram table twice
    (measured 2x end-to-end). No nested-loop joins anywhere."""
    plan = plan_of(entry.q_ngram_novelty(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan, plan
    # the gram table is built and exchanged once: one hashpartitioning
    # exchange on the gram key
    assert plan.count("hashpartitioning(gram") == 1, plan


def test_vocabulary_growth_has_no_distinct_expand(spark):
    """Cumulative distinct comes from first-occurrence bucketing — the
    plan must contain NO Expand (no count_distinct) and no global sort
    of token rows (the only window input is the |buckets| table)."""
    plan = plan_of(entry.q_vocabulary_growth(spark, SF))
    assert "Expand" not in plan, plan


def test_mutual_information_single_contingency_scan(spark):
    """MI + both entropies derive from ONE pass over documents: exactly
    one parquet scan in the executed plan."""
    plan = plan_of(entry.q_mutual_information(spark, SF))
    assert plan.count("Scan parquet") == 1, plan


def test_token_burstiness_uses_takeordered(spark):
    """The top-k cut must be distributed TakeOrdered, not a global
    sort-then-limit."""
    plan = plan_of(entry.q_token_burstiness(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_rouge_overlap_is_equi_join(spark):
    """Pair scoring joins on (pair id, token) keys — no cartesian or
    nested-loop anywhere in the plan."""
    plan = plan_of(entry.q_rouge_overlap(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_portable_minhash_pairs_is_equi_join(spark):
    """Portable-mode LSH candidates join on (band, bucket-string) equi
    keys exactly like the xxhash64 path — the hash-family swap must not
    degrade the join strategy."""
    plan = plan_of(entry.q_minhash_lsh_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_multiblock_is_equi_join(spark):
    """6-block simhash pairing stays a pure (block, value) equi-join."""
    plan = plan_of(entry.q_simhash_pairs_multiblock(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prune_filter_sits_in_the_fact_scan_stage(spark):
    # the bloom membership predicate must evaluate BEFORE the join
    # exchange: a Filter with the xxhash64 arithmetic on the lineitem
    # branch, no Python eval stage anywhere
    df = entry.q_bloom_prune_join(spark, SF)
    plan = plan_of(df)
    assert "xxhash64" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the dim filter is pushed to its scan
    assert "LessThan(s_nationkey,3)" in plan, plan


def test_prefix_filter_join_keys_on_token_hash_not_cartesian(spark):
    df = entry.q_prefix_filter_pairs(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_record_linkage_blocks_on_nation_and_stays_codegen(spark):
    df = entry.q_record_linkage(spark, SF)
    plan = plan_of(df)
    # equi-join on the block key, literal weights in pure expressions
    assert "c_nationkey" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_skyline_plans_one_group_window_no_pairwise_join(spark):
    df = entry.q_skyline_frontier(spark, SF)
    plan = plan_of(df)
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_gini_window_is_group_partitioned(spark):
    df = entry.q_gini_concentration(spark, SF)
    plan = plan_of(df)
    # the ranking window partitions by the group key — never a global sort
    assert "partitionBy" not in plan or "event_type" in plan
    assert "Window" in plan and "event_type" in plan, plan


def test_pair_reuse_checkpoints_bound_exchange_counts(spark):
    """r9-opt: twice-referenced pair/signature subtrees are lineage-cut
    (lazy localCheckpoint), so the physical plans stay small — without
    the cuts these plans carried 38-56 Exchanges (the ngram/minhash
    pipelines inlined 2x). A regression here means a checkpoint was
    dropped and an expensive subtree executes twice again."""
    for fn, bound in (
        (entry.q_dedup_method_agreement, 30),
        (entry.q_capture_recapture, 30),
        (entry.q_minhash_recall, 30),
        (entry.q_minhash_bbit, 30),
        (entry.q_minhash_lsh_pairs, 10),
    ):
        plan = plan_of(fn(spark, SF))
        n = plan.count("Exchange")
        assert n <= bound, f"{fn.__name__}: {n} exchanges (bound {bound})"


def test_dup_clusters_symmetrizes_in_one_pass(spark):
    """r9-opt: edge symmetrization uses one explode pass, not
    union(select, select) — a union re-executes the caller's whole
    pair-generation lineage once per branch on first materialization."""
    import inspect

    from nnanalytics_spark.pipeline import dedup as _d

    src = inspect.getsource(_d.dup_clusters)
    assert "explode" in src and ".union(" not in src


def test_bootstrap_ci_fans_out_and_single_percentile_broadcast(spark):
    """r9-opt: the B·n weight pipeline must not be pinned to a
    single-split source (profiled as a 4.7 s single-task stage at
    sf0.1), and the two percentile cuts ride ONE broadcast aggregate
    over the checkpointed replicate grid, not one broadcast job each."""
    df = entry.q_bootstrap_ci(spark, SF)
    plan = plan_of(df)
    # one broadcast for the cuts row (plus zero others): the old shape
    # carried two BroadcastExchanges (lo and hi filters)
    assert plan.count("BroadcastExchange") == 1, plan
    # the replicate grid is lineage-cut (checkpointed RDD scan), so the
    # B·n pipeline cannot re-execute per percentile branch
    assert "ExistingRDD" in plan, plan
    # the fan-out guard lives inside the checkpointed subtree, invisible
    # in the final plan — pin it at source level
    import inspect

    from nnanalytics_spark.pipeline import stats as _s

    src = inspect.getsource(_s.bootstrap_ci)
    assert "repartition(target)" in src and "defaultParallelism" in src
    # result row is pinned by the oracle battery; sanity: one row shape
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["replicates"] == 100


def test_compute_heavy_kernels_fan_out(spark):
    """r9-opt: the compute-heavy Arrow kernels (broadcast pair scorer,
    anchored top-k) must not be pinned to a single-split source — the
    fan-out repartition appears in the plan. Cheap kernels (cell assign,
    batch top-k) deliberately stay narrow (measured: the exchange costs
    more than it saves there)."""
    plan = plan_of(entry.q_knn_label_eval(spark, SF))
    assert "RoundRobinPartitioning" in plan, plan
    plan = plan_of(entry.q_embedding_dup_pairs(spark, SF))
    assert "RoundRobinPartitioning" in plan, plan
    # counter-case: batch_topk stays narrow
    plan = plan_of(entry.q_ann_batch_topk(spark, SF))
    assert "RoundRobinPartitioning" not in plan, plan


def test_shared_shingle_postings_identical_and_single_pass(spark):
    """r9-opt: minhash_bbit / minhash_recall run a pair pipeline AND a
    minhash-signature pipeline over the same corpus; both now consume
    ONE lazily-checkpointed shingle_postings table instead of shingling
    the corpus twice. Pin (a) bit-identical results vs the unshared
    construction, and (b) that the entry queries actually share the
    table (source-level: one shingle_postings call feeds both)."""
    import inspect

    from nnanalytics_spark.pipeline import dedup as _d

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    occ = _d.shingle_postings(docs).localCheckpoint(eager=False)
    shared = _d.minhash_signatures(docs, k=8, portable=True, postings=occ)
    plain = _d.minhash_signatures(docs, k=8, portable=True)
    assert sorted(map(tuple, shared.collect())) == sorted(map(tuple, plain.collect()))
    p_shared = _d.ngram_jaccard_pairs(
        docs, threshold=0.5, max_shingle_df=100, postings=occ
    )
    p_plain = _d.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=100)
    assert sorted(map(tuple, p_shared.collect())) == sorted(
        map(tuple, p_plain.collect())
    )
    src = inspect.getsource(entry.q_minhash_bbit)
    assert "shingle_postings" in src and "postings=occ" in src
    # counter-case: minhash_recall measured par with sharing (native-mode
    # LSH shingling is cheap) and deliberately keeps the two-pass shape
    assert "postings=occ" not in inspect.getsource(entry.q_minhash_recall)


def test_grouped_kernel_width_pinned_against_aqe_floor(spark):
    """r9-opt: the grouped Arrow-kernel inputs (within-cell pair scorer,
    blocked local top-k) pin their shuffle width explicitly — small
    inputs run a handful of well-filled tasks even when the session's
    AQE coalescing floor is lowered for compute-dense JVM stages (64k
    default; it re-fanned the ~1 MB cell-kernel shuffle into ~17 tasks
    and tripled link_negatives' tail on the bench host)."""
    import math

    from nnanalytics_spark.pipeline import similarity as _s

    # pin math: rows-based width, capped at the session shuffle width
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pinned = _s._pin_kernel_width(
        emb.select("vec_id"), 2000, ["vec_id"]
    )
    assert pinned.rdd.getNumPartitions() == max(
        1, min(cap, math.ceil(2000 / _s._MIN_KERNEL_TASK_ROWS))
    )
    big = _s._pin_kernel_width(emb.select("vec_id"), 10**9, ["vec_id"])
    assert big.rdd.getNumPartitions() == cap
    # the kernel call sites route through the pin (source-level)
    import inspect

    for fn in (_s._block_pair_kernel, _s._blocked_local_topk):
        assert "_pin_kernel_width" in inspect.getsource(fn), fn.__name__
    assert "_block_pair_kernel" in inspect.getsource(_s.within_cell_pairs_above)
    # session default: the compute-dense floor is active
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    ) in ("64k", "65536", "65536b")
