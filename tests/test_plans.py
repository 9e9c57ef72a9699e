"""Physical-plan regression tests: the scale architecture (pushdown,
pruning, broadcast, TakeOrdered, equi-join band joins) asserted from
explain output, so a refactor can't silently regress the plan shape
that PERF.md documents."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from pyspark_caffe_spark.queries import QUERIES


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# These tests pin the distributed plan, so they read ``multi_rg_sf_dir``,
# the fixture's rows as several row groups per table: ``tables.load_table``
# reads a one-row-group table as one partition, over which an aggregate,
# window or dedup plans no exchange at all.  Only the one-split tests at
# the end read the shipped one-row-group files (``sf_dir``).
CASES = [
    # (key, must-match regex, must-NOT-match regex, reason)
    ("filter_conj", r"PushedFilters: \[[^\]]*LessThan\(l_quantity", None, "predicate pushdown to parquet"),
    ("filter_conj", r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag", None, "equality pushdown"),
    ("project_compute", r"ReadSchema: [^\n]*l_extendedprice", r"ReadSchema: [^\n]*l_shipdate", "column pruning: unused columns not read"),
    ("join_broadcast", r"BroadcastHashJoin", r"SortMergeJoin", "dims broadcast, no fact shuffle"),
    ("join_multiway", r"BroadcastHashJoin", None, "customer/supplier broadcast in q5 chain"),
    ("join_multiway", r"PushedFilters: \[[^\]]*In\(s_nationkey", None, "supplier scan filtered to the ASIA nation keys"),
    ("join_multiway", r"PushedFilters: \[[^\]]*In\(c_nationkey", None, "customer scan filtered to the ASIA nation keys"),
    ("join_q3_topk", r"TakeOrderedAndProject", None, "top-10 is TakeOrdered, not global sort"),
    ("topk_global", r"TakeOrderedAndProject", None, "top-k merge"),
    ("ml_batch_score_topk", r"TakeOrderedAndProject", None, "top-k after model apply"),
    ("filter_subquery_in", r"LeftSemi", None, "IN-subquery as semi join"),
    ("join_range_bucketed", None, r"BroadcastNestedLoopJoin", "band join must be an equi-join"),
    ("agg_hash_groupby", r"HashAggregate(.|\n)*HashAggregate", None, "partial + final aggregation"),
    ("win_rank_topk", r"Window", r"CartesianProduct", "partitioned window"),
    ("join_lateral", r"Window", r"CartesianProduct|BroadcastNestedLoopJoin", "LATERAL decorrelated to window, not nested loop"),
    ("agg_q6_selective", r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", None, "Q6 date range pushed to parquet"),
    ("join_null_safe", r"BroadcastHashJoin", r"BroadcastNestedLoopJoin|CartesianProduct", "null-safe equality stays a hash join"),
    ("join_partition_pruned", r"dynamicpruning", None, "runtime partition pruning from the dim filter"),
    ("sim_knn_batch", r"BroadcastNestedLoopJoin", r"CartesianProduct", "query block broadcast onto corpus, never a cartesian shuffle"),
    ("sink_merge_upsert", r"ReadSchema: [^\n]*merge_action", None, "sink returns the written merged snapshot (merge plan ran at write time)"),
    ("ml_centroids", r"HashAggregate(.|\n)*HashAggregate", None, "per-(label,pos) partial agg before shuffle"),
    ("fn_regexp", r"ReadSchema: [^\n]*text", r"ReadSchema: [^\n]*n_chars", "regex pass reads only doc_id+text"),
    ("pipeline_training_snapshot", r"partial_min", r"hashpartitioning(.|\n)*hashpartitioning", "partial agg below the single dedup shuffle; no shuffle pile-up"),
    ("corpus_mixture", None, r"hashpartitioning|SortMergeJoin", "mixture is a pure map stage — no shuffle"),
    ("pack_shards", r"Window", r"SinglePartition", "packing windows are per-group, never a single global partition"),
    ("sim_rerank", r"BroadcastNestedLoopJoin", r"CartesianProduct|SortMergeJoin", "candidate retrieval broadcasts the query block"),
    ("events_sessionize", r"Exchange", r"hashpartitioning(.|\n)*hashpartitioning", "one shuffle shared by both windows and the session aggregate"),
    ("text_repetition", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "repetition filter runs at scan speed: no shuffle, no Python"),
    ("events_transition", r"Window", r"SinglePartition", "per-user LEAD window, never a single global partition"),
    ("fn_variant", r"ReadSchema: [^\n]*props", r"BatchEvalPython|ArrowEvalPython", "VARIANT path extraction is JVM-side"),
    ("scan_count_meta", r"ReadSchema: struct<>", None, "count(*) reads zero data columns"),
    ("join_asof_nearest", r"Window", r"hashpartitioning(.|\n)*hashpartitioning", "both asof passes share one user_id shuffle"),
    ("text_chunk", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "chunking is a pure map stage: no shuffle, no Python"),
    ("join_scd2", r"BroadcastHashJoin", r"BroadcastNestedLoopJoin|CartesianProduct", "SCD2 validity window rides the equi-key hash join"),
    ("ml_embedding_norm_stats", None, r"BatchEvalPython|ArrowEvalPython", "vector norm stats stay JVM-side"),
    ("join_interval_overlap", None, r"BroadcastNestedLoopJoin|CartesianProduct", "interval overlap rides the bucket equi-join"),
    ("sink_sorted_stats", r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", None, "read-back filter reaches the sorted parquet row groups"),
    ("sim_optimizer_rewrite", None, r"BroadcastNestedLoopJoin|CartesianProduct", "naive crossJoin+cosine spelling rewritten to the routed plan"),
    ("sim_bipartite_rewrite", None, r"BroadcastNestedLoopJoin|CartesianProduct", "naive two-corpus cosine spelling rewritten to the bipartite tier"),
    ("agg_bitmap_distinct", r"HashAggregate(.|\n)*HashAggregate", r"Expand", "bitmap distinct: two-level agg, never the countDistinct Expand rewrite"),
    ("fn_xml", None, r"BatchEvalPython|ArrowEvalPython|Exchange", "xpath extraction is JVM-side and a pure map stage"),
    ("sink_zorder", r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_custkey", None, "2-D box filter pushed to the z-ordered parquet"),
    ("join_q2_mincost", None, r"hashpartitioning(.|\n)*hashpartitioning", "one l_partkey shuffle feeds agg AND window; lineitem scanned once"),
    ("join_q20_semichain", r"LeftSemi", r"SortMergeJoin", "three-level semi chain rides broadcast builds, no fact shuffle"),
    ("join_q22_cntrycode", r"LeftAnti", r"CartesianProduct", "NOT EXISTS is an anti join; scalar avg broadcasts"),
    ("corpus_shuffle_shards", r"Window", r"SinglePartition|hashpartitioning(.|\n)*hashpartitioning", "epoch shuffle is one shard-hash exchange, never a global sort"),
    ("corpus_token_budget", r"Window", r"SinglePartition", "running token sum windows per lang, never one global partition"),
    ("agg_q4_priority_exists", r"LeftSemi", r"CartesianProduct", "EXISTS decorrelated to ONE semi join with the date residual"),
    ("join_q7_volume", r"BroadcastHashJoin", r"CartesianProduct", "region-pruned supplier/customer maps broadcast onto the facts"),
    ("agg_q8_mktshare", r"LeftSemi", r"BroadcastNestedLoopJoin", "part p_type prune is a broadcast semi before any shuffle"),
    ("join_q10_returned_topk", r"TakeOrderedAndProject", None, "top-20 is TakeOrdered, not global sort"),
    ("agg_q14_promo_share", None, r"Exchange hashpartitioning", "broadcast part join + 1-row agg: zero fact shuffles"),
    ("agg_q16_supplier_cnt", r"LeftAnti", r"SortMergeJoin", "supplier blacklist NOT IN is a broadcast anti join"),
    ("agg_q19_disjunctive", r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_quantity,30", None, "implied OR quantity bound pushed to the lineitem scan"),
    ("agg_q19_disjunctive", r"In\(p_brand", r"BroadcastNestedLoopJoin", "implied brand set pushed to the part scan; join stays equi"),
    ("join_q21_waiting", None, r"CartesianProduct|BroadcastNestedLoopJoin", "decorrelated one-pass Q21: no self-join blowup"),
    ("text_quality_classifier", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "linear quality scoring runs at scan speed: no shuffle, no Python"),
    ("corpus_importance_sample", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "hash-gated importance sampling is a scan-side filter"),
    ("events_path_topk", r"TakeOrderedAndProject", r"SinglePartition", "per-user window, never global; top-20 is TakeOrdered"),
    ("events_user_similarity", r"TakeOrderedAndProject", r"CartesianProduct|BroadcastNestedLoopJoin", "candidates from the trigram inverted-index equi-join, never all-pairs"),
    ("join_asof_tolerance", r"Window", r"hashpartitioning(.|\n)*hashpartitioning", "backward+forward tolerance passes share one user_id shuffle"),
    ("corpus_split_leakproof", r"HashAggregate(.|\n)*HashAggregate", r"BatchEvalPython|ArrowEvalPython", "fingerprint split gate is JVM md5/conv arithmetic, partial-agged"),
    ("text_containment", r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", r"CartesianProduct|BroadcastNestedLoopJoin", "candidates from the shingle inverted-index equi-join, never all-pairs"),
    ("text_heavy_hitters", r"BroadcastHashJoin", r"CartesianProduct|BatchEvalPython|ArrowEvalPython", "4096-cell sketch broadcasts onto the vocab; all-JVM md5 arithmetic"),
    ("corpus_domain_cap", r"WindowGroupLimit(.|\n)*WindowGroupLimit", None, "rank-limit pushdown bounds BOTH cap phases map-side"),
    ("win_ewma", r"Window", r"SinglePartition", "EWMA window partitioned per user, never one global partition"),
    ("text_html_strip", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "html strip is a pure scan-side map: no shuffle, no Python"),
    ("sink_bloom_filter", r"PushedFilters: \[[^\]]*In\(o_custkey", None, "IN probe pushed down to the bloom-filtered parquet"),
    ("pipeline_incremental", r"PartitionFilters: \[[^\]]*day[^\]]*>= 2024-01-25", None, "refresh reads only the delta partitions (planning-time pruning)"),
    ("events_rfm", r"BroadcastNestedLoopJoin", r"CartesianProduct|SortMergeJoin", "quintile boundaries broadcast onto the user aggregate, never a shuffle"),
    ("sim_mmr_diversify", r"Window", r"CartesianProduct|SinglePartition", "greedy MMR rides per-query windows/joins, never a global partition"),
    ("text_line_dedup", r"BroadcastHashJoin", r"SortMergeJoin|CartesianProduct", "frequent-line set broadcast into the flagging join"),
    ("corpus_curriculum", r"BroadcastNestedLoopJoin", r"SortMergeJoin", "stage boundaries broadcast onto the corpus scan, never a shuffle"),
    ("events_attribution", None, r"CartesianProduct|BroadcastNestedLoopJoin", "touch window rides the user_id equi-join, never a theta join (the only SinglePartition is the 1-row direct-channel scalar agg)"),
    ("dedup_url_canonicalize", r"HashAggregate(.|\n)*HashAggregate", r"BatchEvalPython|ArrowEvalPython|hashpartitioning(.|\n)*hashpartitioning", "canonicalization is scan-side; ONE shuffle on the canonical key with partial agg"),
    ("ml_retrieval_eval", r"BroadcastNestedLoopJoin", r"CartesianProduct|SortMergeJoin|SinglePartition", "query block broadcast onto one corpus scan; per-query rank windows"),
    ("agg_theta_audience_overlap", r"HashAggregate(.|\n)*HashAggregate", r"CartesianProduct", "theta sketches partial-agged map-side; 5-row sketch pairing broadcasts"),
    ("agg_kll_quantile_sketch", r"HashAggregate(.|\n)*HashAggregate", r"CartesianProduct|SortMergeJoin", "KLL sketches partial-agged; quantile row broadcast back onto the scan"),
    ("agg_theta_sketch_rollup", r"PushedFilters: \[[^\]]*LessThan\(day", r"CartesianProduct", "range query reads the STORED daily sketches with the day filter pushed down"),
    ("agg_kll_sketch_rollup", r"PushedFilters: \[[^\]]*LessThan\(day", r"CartesianProduct|SortMergeJoin", "range quantiles read the STORED daily sketches, day filter pushed down"),
    ("ml_bootstrap_ci", r"HashAggregate(.|\n)*HashAggregate", r"BatchEvalPython|ArrowEvalPython|hashpartitioning(.|\n)*hashpartitioning", "all 20 replicates ride ONE scan + partial agg; a single 20-group shuffle"),
    # round-17 widening: the dedup / similarity / salted-join / graph /
    # scan-speed families are the plans whose shape carries the 100 TB
    # argument — locked so a refactor can't silently reintroduce an
    # all-pairs join, a Python hot path, or a needless shuffle.
    ("dedup_exact", r"HashAggregate", r"BatchEvalPython|ArrowEvalPython|CartesianProduct|SortMergeJoin", "exact dedup is a normalized-key aggregate, all-JVM, no join"),
    ("dedup_minhash", None, r"CartesianProduct", "minhash candidates come from the band-signature equi-join, never all-pairs"),
    ("dedup_simhash", None, r"CartesianProduct", "simhash chunk-blocking keeps candidate generation an equi-join"),
    ("dedup_ngram_jaccard", None, r"CartesianProduct|BroadcastNestedLoopJoin", "ngram-blocked jaccard verifies equi-join candidates only"),
    ("dedup_candidate_verify", None, r"CartesianProduct|BroadcastNestedLoopJoin", "blocked verify joins candidate pairs on keys, never a theta join"),
    ("dedup_embed_cosine", None, r"CartesianProduct|BroadcastNestedLoopJoin", "embedding near-dup rides bucketed candidates, never all-pairs cosine"),
    ("dedup_latest", r"Window", r"SinglePartition", "latest-version pick is per-key windows, never one global partition"),
    ("dedup_source_priority", r"Window", r"SinglePartition", "source-priority pick is per-key windows, never one global partition"),
    ("dedup_decontaminate_ngram", None, r"CartesianProduct|BroadcastNestedLoopJoin", "8-gram decontamination joins on the gram hash, never doc-x-benchmark pairs"),
    ("join_skew_salted", r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", r"CartesianProduct|BroadcastNestedLoopJoin", "salting preserves the equi-join; the salt never degrades it to a theta join"),
    ("ml_knn_classifier", r"BroadcastNestedLoopJoin", r"CartesianProduct|SortMergeJoin", "query block broadcast onto one corpus scan, never a cartesian shuffle"),
    ("sample_stratified", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "stratified sampling is a scan-side filter: no shuffle, no Python"),
    ("text_lang_id", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "n-gram lang-id heuristic runs at scan speed: no shuffle, no Python"),
    ("text_quality_score", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "quality scoring runs at scan speed: no shuffle, no Python"),
    ("text_pii_scrub", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "PII scrub is JVM regexp_replace at scan speed: no shuffle, no Python"),
    ("sim_threshold_join", None, r"CartesianProduct", "threshold pairs come from banded LSH candidates, never all-pairs"),
    ("events_funnel", None, r"CartesianProduct", "funnel stages ride user_id equi-joins (scalar 1-row broadcasts only)"),
    ("events_dau_mau", None, r"CartesianProduct|BatchEvalPython|ArrowEvalPython", "DAU/MAU rolling distinct is all-JVM date-key aggregation"),
    ("events_cohort_retention", None, r"CartesianProduct|BroadcastNestedLoopJoin", "cohort grid rides the user_id equi-join, never a theta join"),
    ("graph_triangle_count", None, r"CartesianProduct|BroadcastNestedLoopJoin", "triangles from edge-edge equi-joins, never all-pairs"),
    ("agg_q15_top_supplier", None, r"CartesianProduct|BroadcastNestedLoopJoin", "Q15 max-revenue filter decorrelates to equi-joins on the revenue view"),
    ("join_q13_custdist", r"BroadcastHashJoin", r"CartesianProduct", "Q13 custdist outer join broadcasts, comment filter stays in the join"),
    ("agg_q17_small_qty", None, r"CartesianProduct|BroadcastNestedLoopJoin", "Q17 correlated avg-qty subquery decorrelates to a p_partkey equi-join"),
    ("agg_q12_priority_late", r"BroadcastHashJoin", r"CartesianProduct|SortMergeJoin", "Q12 shipmode split rides the orders broadcast, no fact shuffle join"),
    ("agg_q18_topk", None, r"CartesianProduct|BroadcastNestedLoopJoin", "Q18 large-order HAVING filter stays on equi-joins"),
    # round-17 widening, second batch: window family (partitioned,
    # never global), the Arrow-vs-row-Python contract on the pandas-UDF
    # ML keys, JVM-only vectorized ML, and the remaining join/agg tails.
    ("win_lag_lead", r"Window", r"SinglePartition|BatchEvalPython|ArrowEvalPython", "lag/lead windows partition per user, never one global partition"),
    ("win_running", r"Window", r"SinglePartition|BatchEvalPython|ArrowEvalPython", "running totals partition per key, never one global partition"),
    ("win_range_frame", r"Window", r"SinglePartition|BatchEvalPython|ArrowEvalPython", "range frames partition per key, never one global partition"),
    ("win_rank_dense", r"Window", r"SinglePartition|BatchEvalPython|ArrowEvalPython", "dense-rank windows partition per group"),
    ("win_ntile", r"Window", r"SinglePartition|BatchEvalPython|ArrowEvalPython", "ntile buckets partition per group"),
    ("win_percent", r"Window", r"SinglePartition|BatchEvalPython|ArrowEvalPython", "percent_rank/cume_dist partition per group"),
    ("win_first_last", r"Window", r"SinglePartition|BatchEvalPython|ArrowEvalPython", "first/last value windows partition per group"),
    ("win_gaps_islands", r"Window", r"SinglePartition|BatchEvalPython|ArrowEvalPython", "gaps-and-islands windows partition per user"),
    ("events_anomaly", r"Window", r"SinglePartition|CartesianProduct|BatchEvalPython|ArrowEvalPython", "z-score anomaly windows partition per metric key"),
    ("events_anomaly_robust", None, r"CartesianProduct|BroadcastNestedLoopJoin", "median/MAD anomaly rides equi-joins of per-key quantile aggregates"),
    ("events_changepoint", r"Window", r"SinglePartition|CartesianProduct", "changepoint scan windows partition per series"),
    ("events_gap_stats", r"Window", r"SinglePartition|CartesianProduct|BatchEvalPython|ArrowEvalPython", "inter-event gap windows partition per user"),
    ("events_cooccurrence", None, r"CartesianProduct|BroadcastNestedLoopJoin", "co-occurrence pairs come from the session equi-self-join, never all-pairs"),
    ("events_concurrency", r"TakeOrderedAndProject", r"CartesianProduct", "peak concurrency is a sweep-line aggregate; top rows are TakeOrdered"),
    ("agg_hll_rollup", None, r"CartesianProduct|BatchEvalPython|ArrowEvalPython", "HLL sketches merge JVM-side through the rollup join"),
    ("agg_hll_sketch_merge", None, r"CartesianProduct|BatchEvalPython|ArrowEvalPython", "stored HLL sketches merge JVM-side, never re-scanning raw data"),
    ("agg_approx_quantile", None, r"SinglePartition|BatchEvalPython|ArrowEvalPython", "approx quantiles partial-agg map-side, never one global partition"),
    ("agg_approx_topk", None, r"CartesianProduct|BatchEvalPython|ArrowEvalPython", "approx top-k sketches are all-JVM"),
    ("agg_mode", r"Window", r"SinglePartition|CartesianProduct", "per-group mode rides partitioned count windows"),
    ("agg_benford", None, r"CartesianProduct|BatchEvalPython|ArrowEvalPython", "Benford digit histogram is all-JVM (scalar total broadcasts)"),
    ("agg_q9_profit", r"BroadcastHashJoin", r"CartesianProduct", "Q9 profit chain broadcasts the dims onto one lineitem pass"),
    ("agg_q11_partvalue", None, r"CartesianProduct", "Q11 threshold scalar broadcasts onto the group aggregate"),
    ("corpus_ngram_lm", None, r"CartesianProduct|BroadcastNestedLoopJoin", "ngram LM counts join on the gram key, never all-pairs"),
    ("corpus_balance_report", r"Window", r"CartesianProduct", "balance report rides per-dimension windows and scalar broadcasts"),
    ("text_ngram_hash", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "ngram hashing is a pure scan-side map: no shuffle, no Python"),
    ("text_lang_stats", None, r"SinglePartition|BatchEvalPython|ArrowEvalPython", "per-language stats partial-agg map-side, all-JVM"),
    ("text_lm_score", None, r"CartesianProduct|BroadcastNestedLoopJoin", "LM scoring joins grams on the hash key, never all-pairs"),
    ("text_fingerprint", None, r"CartesianProduct|BatchEvalPython|ArrowEvalPython", "rolling-hash fingerprints are all-JVM"),
    ("ml_model_apply", r"ArrowEvalPython", r"BatchEvalPython", "model apply is an Arrow-batched pandas UDF, never row-at-a-time Python"),
    ("ml_feature_extract", r"ArrowEvalPython", r"BatchEvalPython", "feature extraction is Arrow-batched, never row-at-a-time Python"),
    ("ml_predict_join", r"ArrowEvalPython", r"BatchEvalPython|CartesianProduct", "scoring UDF is Arrow-batched; the prediction join stays equi"),
    ("ml_multi_model_apply", r"ArrowEvalPython", r"Exchange|BatchEvalPython|MapInPandas", "multi-model scoring is one Arrow-batched model pass, no shuffle"),
    ("ml_quantize_int8", None, r"Exchange|BatchEvalPython|ArrowEvalPython", "int8 quantization is JVM array arithmetic at scan speed"),
    ("join_exists_flag", r"BroadcastHashJoin", r"CartesianProduct|BroadcastNestedLoopJoin", "EXISTS flag is an equi-join, never a correlated loop"),
    ("join_corr_scalar", r"BroadcastHashJoin", r"CartesianProduct", "correlated scalar subquery decorrelates to an equi-join"),
    ("join_snapshot_diff", None, r"CartesianProduct|BroadcastNestedLoopJoin|BatchEvalPython|ArrowEvalPython", "snapshot diff is a full-outer equi-join on the key"),
    ("join_fuzzy_blocked", None, r"CartesianProduct|BroadcastNestedLoopJoin", "fuzzy match candidates come from the blocking equi-join, never all-pairs"),
    ("dedup_decontaminate", None, r"CartesianProduct|BroadcastNestedLoopJoin", "decontamination joins on the normalized key, never doc-x-benchmark pairs"),
    ("join_theta_range", r"BroadcastNestedLoopJoin", r"CartesianProduct", "range theta join broadcasts the small side, never a cartesian shuffle"),
    ("profile_referential", None, r"CartesianProduct|BatchEvalPython|ArrowEvalPython", "referential-integrity checks ride key equi-joins"),
    ("profile_drift_psi", None, r"CartesianProduct|BatchEvalPython|ArrowEvalPython", "PSI drift bins join on the bin key, all-JVM"),
] + [
    (key, None, r"nation\.parquet|region\.parquet", "nation/region resolved on the driver, never scanned")
    for key in (
        "join_broadcast", "join_multiway", "join_q7_volume", "agg_q8_mktshare", "agg_q9_profit",
        "join_q10_returned_topk", "join_q20_semichain", "join_q21_waiting",
    )
]


def test_pattern_detect_single_shuffle(spark, multi_rg_sf_dir):
    """events_pattern_detect's whole pipeline — sessionize, three
    chained running flags, per-session reduce, per-user rollup — must
    ride ONE user_id Exchange: every later stage's clustering is
    satisfied by hashpartitioning(user_id)."""
    plan = plan_of(QUERIES["events_pattern_detect"](spark, multi_rg_sf_dir))
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n == 1, f"expected exactly one Exchange, plan has {n}"


def test_path_topk_single_window(spark, multi_rg_sf_dir):
    """All four LEADs of events_path_topk share ONE window spec, so the
    plan must contain exactly one Window node (one user_id shuffle)."""
    plan = plan_of(QUERIES["events_path_topk"](spark, multi_rg_sf_dir))
    n = len(re.findall(r"\(\d+\) Window", plan))
    assert n == 1, f"expected exactly one Window node, plan has {n}"


def test_dedup_exact_single_shuffle(spark, multi_rg_sf_dir):
    """Exact dedup at 100 TB is ONE normalized-key shuffle — the
    normalize (lower/trim) is scan-side, the dropDuplicates is one
    hash aggregate, and nothing downstream re-partitions."""
    plan = plan_of(QUERIES["dedup_exact"](spark, multi_rg_sf_dir))
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n == 1, f"expected exactly one Exchange, plan has {n}"


def test_dedup_latest_windows_share_one_shuffle(spark, multi_rg_sf_dir):
    """dedup_latest / dedup_source_priority stack three window
    functions over the same key ordering: all of them must ride ONE
    Exchange (same-spec windows collapse onto one sort/partition)."""
    for key in ("dedup_latest", "dedup_source_priority"):
        plan = plan_of(QUERIES[key](spark, multi_rg_sf_dir))
        n = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n == 1, f"{key}: expected exactly one Exchange, plan has {n}"


def _split_top(s: str) -> list[str]:
    """Split a plan argument list on its top-level commas."""
    parts, depth, cur = [], 0, ""
    for ch in s:
        if ch == "," and depth == 0:
            parts.append(cur.strip())
            cur = ""
            continue
        depth += (ch in "([") - (ch in ")]")
        cur += ch
    return parts + [cur.strip()]


def _resolver(plan: str):
    """Resolve a formatted plan's attribute (``name#id``) to the
    expression its ``expr AS name#id`` alias defines."""
    defs = {}
    for lst in re.findall(r"^(?:Output|Results|Keys) \[\d+\]: \[(.*)\]$", plan, re.M):
        for item in _split_top(lst):
            m = re.fullmatch(r"(.+) AS (\w+#\d+L?)", item)
            if m:
                defs[m.group(2)] = m.group(1)

    def resolve(expr: str) -> str:
        while expr in defs:
            expr = defs[expr]
        return expr

    return resolve


def _hash_keys(plan: str) -> list[str]:
    """The hash-partitioning keys of a formatted plan's exchanges."""
    return [
        k
        for args in re.findall(r"Arguments: hashpartitioning\((.*)\), \w+, \[plan_id", plan)
        for k in _split_top(args)[:-1]  # the last argument is the partition count
    ]


def _text_keys(plan: str) -> list[str]:
    """The hash-partitioning keys and broadcast columns of a formatted
    plan that are the raw text column or its normalized text, each
    resolved through the ``expr AS name#id`` aliases of the plan."""
    resolve = _resolver(plan)
    keys = _hash_keys(plan)
    keys += [
        k
        for cols in re.findall(r"BroadcastExchange\nInput \[\d+\]: \[(.*)\]", plan)
        for k in _split_top(cols)
    ]
    text = re.compile(r"text#\d+|lower\(trim\(regexp_replace\(.*")
    return [k for k in keys if text.fullmatch(resolve(k))]


@pytest.mark.parametrize(
    "key",
    [
        "dedup_exact",
        "pipeline_corpus",
        "pipeline_training_snapshot",
        "dedup_source_priority",
        "dedup_decontaminate",
    ],
)
def test_exact_dedup_keys_on_fingerprint(key, spark, multi_rg_sf_dir):
    """Every exact-dedup site groups, partitions or broadcast-joins on
    the 128-bit textops.fingerprint: neither the text column nor its
    normalized text is a shuffle key or a broadcast column."""
    plan = plan_of(QUERIES[key](spark, multi_rg_sf_dir))
    assert "hashpartitioning" in plan or "BroadcastExchange" in plan, key
    bad = _text_keys(plan)
    assert not bad, f"{key}: text crosses an exchange as {bad}"


@pytest.mark.parametrize("key", ["multimodal_dedup", "dedup_source_priority"])
def test_md5_dedup_ships_16_byte_key(key, spark, multi_rg_sf_dir):
    """The md5-keyed dedups ship the 16-byte ``unhex(md5(...))`` binary
    through their one exchange — multimodal_dedup as its
    hash-partitioning key, dedup_source_priority as the column its
    window carries to the output ``norm_key`` — and hex it only after
    the aggregate or the ``rk = 1`` filter, never the 32-char hex
    string."""
    plan = plan_of(QUERIES[key](spark, multi_rg_sf_dir))
    resolve = _resolver(plan)
    shipped = _hash_keys(plan) + [
        c
        for cols in re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]", plan)
        for c in _split_top(cols)
    ]
    md5s = [e for e in map(resolve, shipped) if "md5(" in e]
    assert md5s, f"{key}: no md5 key crosses the exchange"
    assert all(e.startswith("unhex(md5(") for e in md5s), f"{key}: {md5s}"


def test_q21_single_lineitem_scan(spark, multi_rg_sf_dir):
    """The Q21 decorrelation's whole point: the textbook EXISTS +
    NOT-EXISTS formulation scans lineitem three times; the one-pass
    per-order aggregate must scan it exactly once."""
    plan = plan_of(QUERIES["join_q21_waiting"](spark, multi_rg_sf_dir))
    n_scans = len(re.findall(r"Location: \w+ ?\[[^\]]*lineitem", plan))
    assert n_scans == 1, f"expected exactly one lineitem scan, plan has {n_scans}"


@pytest.mark.parametrize("key,want,ban,reason", CASES, ids=[f"{c[0]}:{c[3][:25]}" for c in CASES])
def test_plan_shape(key, want, ban, reason, spark, multi_rg_sf_dir):
    plan = plan_of(QUERIES[key](spark, multi_rg_sf_dir))
    if want:
        assert re.search(want, plan), f"{key}: expected /{want}/ ({reason})"
    if ban:
        assert not re.search(ban, plan), f"{key}: must not contain /{ban}/ ({reason})"


def test_ewma_single_window_single_shuffle(spark, multi_rg_sf_dir):
    """All 19 lag terms of win_ewma share ONE window spec: the plan
    must hold exactly one Window node over exactly one Exchange — a
    per-lag window would shuffle 19 times."""
    plan = plan_of(QUERIES["win_ewma"](spark, multi_rg_sf_dir))
    n_win = len(re.findall(r"\(\d+\) Window", plan))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_win == 1, f"expected exactly one Window node, plan has {n_win}"
    assert n_ex == 1, f"expected exactly one Exchange, plan has {n_ex}"


def test_bloom_filter_written_to_parquet_footer(spark, multi_rg_sf_dir):
    """sink_bloom_filter's write must actually persist bloom filters:
    every o_custkey column chunk carries a bloom offset in the footer
    (parquet-mr's ColumnChunkMetaData reports -1 when absent), and the
    date-sort layout means min/max stats CANNOT serve the lookup (the
    probed keys fall inside every row group's custkey range) — the
    bloom is the only thing that lets the reader skip."""
    import glob
    import os

    QUERIES["sink_bloom_filter"](spark, multi_rg_sf_dir)  # ensure the sink ran
    tag = os.path.basename(multi_rg_sf_dir.rstrip("/"))
    from pyspark_caffe_spark.queries.relational import _scratch

    files = glob.glob(os.path.join(_scratch("sink_bloom_" + tag), "*.parquet"))
    assert files, "bloom sink wrote no parquet files"
    jvm = spark._jvm
    try:
        conf = spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(files[0])
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hpath, conf)
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    except Exception as exc:  # pragma: no cover - JVM surface moved
        pytest.skip(f"parquet-mr footer API unavailable: {exc}")
    try:
        rgs = reader.getRowGroups()
        assert rgs.size() >= 1
        checked = 0
        for gi in range(rgs.size()):
            cols = rgs.get(gi).getColumns()
            for ci in range(cols.size()):
                col = cols.get(ci)
                name = col.getPath().toDotString()
                if name == "o_custkey":
                    assert col.getBloomFilterOffset() >= 0, (
                        f"row group {gi}: no bloom filter offset for o_custkey"
                    )
                    checked += 1
                else:
                    assert col.getBloomFilterOffset() < 0, (
                        f"row group {gi}: unexpected bloom on {name} (write cost)"
                    )
        assert checked >= 1, "no o_custkey column chunks found"
    finally:
        reader.close()


_BLOOM_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


def test_runtime_bloom_filter_join(spark, multi_rg_sf_dir):
    """Runtime bloom-filter join pushdown — the 100 TB fact⋈fact shape:
    with broadcast disabled (forcing SMJ, as at real fact sizes), the
    selective filter on the creation side injects a bloom_filter_agg
    subquery whose might_contain() drops non-matching fact rows BEFORE
    the shuffle. Size thresholds are lowered because local fixtures are
    below the defaults (10 GB application side); at cluster scale the
    defaults trigger this rewrite untouched."""
    from pyspark.sql import functions as F

    from pyspark_caffe_spark.tables import load_table

    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        li = load_table(spark, multi_rg_sf_dir, "lineitem")
        od = load_table(spark, multi_rg_sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
        j = li.join(od, li.l_orderkey == od.o_orderkey).select(
            "l_orderkey", "l_extendedprice", "o_totalprice"
        )
        plan = plan_of(j)
        assert "might_contain" in plan, "bloom filter not applied to the fact scan side"
        assert "bloom_filter_agg" in plan, "bloom filter not built from the filtered side"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
}


def test_aqe_skew_join_split(spark, multi_rg_sf_dir):
    """AQE skew-join split — runtime evidence (the round-1 experiment
    measured AQE *declining* below thresholds; this drives the split).

    50% of fact rows land on one key; with thresholds lowered to local
    fixture sizes the final adaptive plan shows SortMergeJoin(skew=true)
    over an 'AQEShuffleRead coalesced and skewed' scan.  The fact side
    is pre-repartitioned to 16 map tasks because the split granularity
    is MAP-OUTPUT ranges: a single-mapper shuffle (normal for a small
    local file) leaves nothing to split — at cluster scale map counts
    are in the thousands, so the split is always available there."""
    from pyspark.sql import functions as F

    from pyspark_caffe_spark.tables import load_table

    saved = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    try:
        for k, v in _SKEW_CONFS.items():
            spark.conf.set(k, v)
        li = load_table(spark, multi_rg_sf_dir, "lineitem").repartition(16).select(
            F.when(F.col("l_orderkey") % 2 == 0, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            "l_extendedprice",
        )
        keys = (
            load_table(spark, multi_rg_sf_dir, "orders")
            .select(F.col("o_orderkey").alias("k"), "o_totalprice")
            .distinct()
        )
        j = li.join(keys, "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed join partition"
        assert "skewed" in plan, "no skewed AQEShuffleRead in the final plan"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_shj_demotion_declines_on_skewed_build_side(spark):
    """Round-9 verdict #6: session.py enables AQE SMJ→SHJ conversion
    (maxShuffledHashJoinLocalMapThreshold) on the claim that the
    decision uses MEASURED partition sizes, so a skewed build side
    keeps the spill-graceful SMJ.  Demonstrate both directions at a
    test-sized threshold (256KB stands in for the production 128m):

      * uniform build side, every shuffle partition under the bound →
        the final adaptive plan IS a ShuffledHashJoin (conversion
        fires, the SMJ sort is skipped);
      * same join with ONE planted hot key whose partition exceeds the
        bound → conversion does NOT fire, the plan stays SortMergeJoin
        (which can spill its sort), and the aggregate over the join is
        exact in both cases.

    Payloads are sha2 hex (incompressible enough that shuffle-file
    bytes track logical size) and are consumed by the aggregate so
    column pruning cannot drop them from the shuffle — both found
    necessary while building this test: compressible or pruned
    payloads make every partition "small" and the demotion never
    declines."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "256KB",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        # the uniform build side fits the bound only when spread over
        # enough partitions; the session's count follows SPARK_GRAFT_CPUS
        "spark.sql.shuffle.partitions": "32",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pay = F.sha2(F.col("id").cast("string"), 512)  # 128 hex chars
        # probe side partitions ~190KB raw: never a valid build side,
        # so the table under test is the only conversion candidate
        probe = spark.range(64 * 1500).select(
            (F.col("id") % 64).alias("k"), pay.alias("probe_pay")
        )

        def run(build):
            j = probe.join(build, "k").agg(
                F.count("*").alias("n"),
                F.sum(F.length("pay")).alias("lp"),
                F.sum(F.length("probe_pay")).alias("lq"),
            )
            row = j.collect()[0]
            plan = j._jdf.queryExecution().executedPlan().toString()
            return row, plan.split("== Initial Plan ==")[0]

        uni = spark.range(64 * 200).select(
            (F.col("id") % 64).alias("k"), pay.alias("pay")
        )
        row_u, plan_u = run(uni)
        assert "ShuffledHashJoin" in plan_u, plan_u
        assert "SortMergeJoin" not in plan_u, plan_u
        # 200 build rows per key × 1500 probe rows × 64 keys
        assert row_u["n"] == 64 * 200 * 1500
        assert row_u["lp"] == row_u["lq"] == row_u["n"] * 128

        hot = 20_000  # hot key partition ~2.5MB raw ≫ 256KB bound
        sk = spark.range(64 * 200 + hot).select(
            F.when(F.col("id") < hot, F.lit(0))
            .otherwise(F.col("id") % 64)
            .alias("k"),
            pay.alias("pay"),
        )
        row_s, plan_s = run(sk)
        assert "SortMergeJoin" in plan_s, plan_s
        assert "ShuffledHashJoin" not in plan_s, plan_s
        assert row_s["n"] == (64 * 200 + hot) * 1500
        assert row_s["lp"] == row_s["lq"] == row_s["n"] * 128
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _naive_cosine_join(spark, sf_dir, *, rounded=True, self_join=True,
                       extra_conjunct=False, project_extra=False):
    """The naive all-pairs spelling (and near-miss variants) used by the
    optimizer-rule tests."""
    from pyspark.sql import functions as F

    from pyspark_caffe_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("emb_a"))
    b_src = emb if self_join else emb.limit(400)
    b = b_src.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("emb_b"))
    dot = F.aggregate(
        F.zip_with("emb_a", "emb_b", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = F.round(dot, 6) if rounded else dot
    cond = (cos >= 0.4) & (F.col("id_a") < F.col("id_b"))
    if extra_conjunct:
        cond = cond & (F.col("id_a") % 2 == 0)
    out = ["id_a", "id_b", cos.alias("cos")]
    if project_extra:
        out.append("emb_a")
    return a.crossJoin(b).filter(cond).select(*out)


def test_similarity_rewrite_fires_and_naive_is_quadratic(spark, multi_rg_sf_dir):
    """The rule's value proposition, both directions: the UNREWRITTEN
    naive spelling really does execute as a nested-loop/cartesian join
    (what a user would silently suffer), and the rewritten plan does
    not."""
    from pyspark_caffe_spark import optimizer

    naive = _naive_cosine_join(spark, multi_rg_sf_dir)
    naive_plan = plan_of(naive)
    assert re.search(r"BroadcastNestedLoopJoin|CartesianProduct", naive_plan), naive_plan
    routed = optimizer.try_rewrite_similarity_join(naive)
    assert routed is not None, "rule failed to match the canonical naive spelling"
    routed_plan = plan_of(routed)
    assert not re.search(r"BroadcastNestedLoopJoin|CartesianProduct", routed_plan), routed_plan


def test_similarity_rewrite_declines_near_misses(spark, multi_rg_sf_dir):
    """The rule must be conservative: every deviation from the proven
    pattern returns None (the naive plan runs), never a miscompile."""
    from pyspark.sql import functions as F

    from pyspark_caffe_spark import optimizer

    # (a) not a self-join: right side scans a DIFFERENT frame
    assert optimizer.try_rewrite_similarity_join(
        _naive_cosine_join(spark, multi_rg_sf_dir, self_join=False)
    ) is None
    # (b) unrounded dot compare: router rounds — semantics differ
    assert optimizer.try_rewrite_similarity_join(
        _naive_cosine_join(spark, multi_rg_sf_dir, rounded=False)
    ) is None
    # (c) extra filter conjunct the routed plan would drop
    assert optimizer.try_rewrite_similarity_join(
        _naive_cosine_join(spark, multi_rg_sf_dir, extra_conjunct=True)
    ) is None
    # (d) projection keeps an embedding column the router does not emit
    assert optimizer.try_rewrite_similarity_join(
        _naive_cosine_join(spark, multi_rg_sf_dir, project_extra=True)
    ) is None
    # (e) a completely unrelated plan
    from pyspark_caffe_spark.tables import load_table

    plain = load_table(spark, multi_rg_sf_dir, "orders").select("o_orderkey")
    assert optimizer.try_rewrite_similarity_join(plain) is None


def test_similarity_rewrite_values_match_naive(spark, multi_rg_sf_dir):
    """Semantic preservation: rewritten result == naive result, row for
    row (the rounded cosine makes this exact)."""
    from pyspark_caffe_spark import optimizer

    naive = _naive_cosine_join(spark, multi_rg_sf_dir)
    routed = optimizer.try_rewrite_similarity_join(naive)
    n = sorted(tuple(r) for r in naive.collect())
    r = sorted(tuple(r) for r in routed.collect())
    assert n == r


def test_similarity_rewrite_exact_over_broadcast_cap(spark, multi_rg_sf_dir):
    """A rewrite rule must be semantics-preserving at EVERY scale: force
    the over-cap path (broadcast_max_rows=8 → exact distributed
    block-pair tier) and assert the rewritten result still equals the
    naive result row for row — i.e. the rule routes to the exact tier,
    never the approximate-recall LSH tier."""
    from pyspark_caffe_spark import optimizer

    naive = _naive_cosine_join(spark, multi_rg_sf_dir)
    routed = optimizer.try_rewrite_similarity_join(
        naive, broadcast_max_rows=8, block_rows=16
    )
    assert routed is not None
    n = sorted(tuple(r) for r in naive.collect())
    r = sorted(tuple(r) for r in routed.collect())
    assert n == r


def test_catalyst_already_covers_global_topk(spark, multi_rg_sf_dir):
    """Documents WHY the optimizer module carries no global-window-topk
    rule: Spark 4's own LimitPushDownThroughWindow / WindowGroupLimit
    rules already rewrite ``row_number().over(Window.orderBy(...))`` +
    ``rn <= k`` into a per-partition top-k + k-row merge
    (TakeOrderedAndProject BELOW the Window) — the full input is never
    sorted in one task despite the \"No Partition Defined\" spelling.
    A custom rule here would be redundant hand-scheduling; this lock
    pins the built-in coverage so an engine upgrade that loses it
    becomes visible (at which point a rule like the similarity rewrite
    would be warranted)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pyspark_caffe_spark.tables import load_table

    orders = load_table(spark, multi_rg_sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    naive = orders.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 25)
    plan = plan_of(naive)
    assert "TakeOrderedAndProject" in plan, (
        "Spark no longer pushes the limit below the global window — "
        "add a rewrite rule to pyspark_caffe_spark/optimizer.py"
    )
    # the limit must sit BELOW the window (the window runs on k rows)
    assert plan.index("TakeOrderedAndProject") > plan.index("Window"), plan
    # and rank() gets the same treatment via WindowGroupLimit
    ranked = orders.withColumn("rk", F.rank().over(w)).filter(F.col("rk") <= 25)
    assert re.search(r"WindowGroupLimit|TakeOrderedAndProject", plan_of(ranked))


def _naive_bipartite_join(spark, sf_dir, *, with_order=False, project_extra=False):
    """The naive TWO-CORPUS (query set × corpus) cosine spelling the
    bipartite rewrite targets, plus near-miss variants."""
    from pyspark.sql import functions as F

    from pyspark_caffe_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    q = emb.filter(F.col("label") <= 1).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("q_emb")
    )
    c = emb.filter(F.col("label") >= 2).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("c_emb")
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "c_emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cond = F.round(dot, 6) >= 0.4
    if with_order:
        cond = cond & (F.col("qid") < F.col("cid"))
    out = ["qid", "cid", F.round(dot, 6).alias("cos")]
    if project_extra:
        out.append("q_emb")
    return q.crossJoin(c).filter(cond).select(*out)


def test_bipartite_rewrite_fires_and_values_match(spark, multi_rg_sf_dir):
    """Round-7 verdict #3: the two-corpus serving shape (query set ×
    corpus) must also escape the BroadcastNestedLoopJoin.  The rule
    matches the single-threshold-conjunct bipartite pattern, the
    routed plan has no BNLJ/cartesian node, and the result equals the
    naive plan row for row."""
    from pyspark_caffe_spark import optimizer

    naive = _naive_bipartite_join(spark, multi_rg_sf_dir)
    assert re.search(r"BroadcastNestedLoopJoin|CartesianProduct", plan_of(naive))
    routed = optimizer.try_rewrite_similarity_join(naive)
    assert routed is not None, "rule failed to match the bipartite serving shape"
    routed_plan = plan_of(routed)
    assert not re.search(r"BroadcastNestedLoopJoin|CartesianProduct", routed_plan)
    assert routed.schema == naive.schema, "rewrite changed the output schema"
    n = sorted(tuple(r) for r in naive.collect())
    r = sorted(tuple(r) for r in routed.collect())
    assert n == r


def test_bipartite_rewrite_exact_over_broadcast_cap(spark, multi_rg_sf_dir):
    """Force the over-cap grid tier (broadcast_max_rows=8) and assert
    the rewritten bipartite result still equals the naive result —
    the rule routes to the exact grid tier, never an approximate one."""
    from pyspark_caffe_spark import optimizer

    naive = _naive_bipartite_join(spark, multi_rg_sf_dir)
    routed = optimizer.try_rewrite_similarity_join(
        naive, broadcast_max_rows=8, block_rows=16
    )
    assert routed is not None
    n = sorted(tuple(r) for r in naive.collect())
    r = sorted(tuple(r) for r in routed.collect())
    assert n == r


def test_bipartite_rewrite_declines_near_misses(spark, multi_rg_sf_dir):
    """Conservative in the bipartite form too: an i<j ordering conjunct
    across two DISTINCT corpora is a different query (decline, don't
    guess), and a projected raw vector column is not the serving
    shape."""
    from pyspark_caffe_spark import optimizer

    assert optimizer.try_rewrite_similarity_join(
        _naive_bipartite_join(spark, multi_rg_sf_dir, with_order=True)
    ) is None
    assert optimizer.try_rewrite_similarity_join(
        _naive_bipartite_join(spark, multi_rg_sf_dir, project_extra=True)
    ) is None


def test_rewrite_declines_non_integral_ids(spark, multi_rg_sf_dir):
    """Round-9 advice: the routed tiers normalize pair ids to LONG
    ('id_a long' Arrow schemas / .cast('long')), so a matching plan
    projecting a string id must DECLINE — not fail at runtime with an
    Arrow/ANSI cast error — and a fractional double id must DECLINE —
    not silently truncate to wrong values.  Both forms, both types."""
    from pyspark.sql import functions as F

    from pyspark_caffe_spark import optimizer
    from pyspark_caffe_spark.tables import load_table

    def naive_with_id_type(cast_to, *, self_join):
        emb = load_table(spark, multi_rg_sf_dir, "embeddings").select(
            F.col("vec_id").cast(cast_to).alias("vid"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        a = emb.select(F.col("vid").alias("id_a"), F.col("emb").alias("emb_a"))
        b_src = emb if self_join else emb.limit(400)
        b = b_src.select(F.col("vid").alias("id_b"), F.col("emb").alias("emb_b"))
        dot = F.aggregate(
            F.zip_with("emb_a", "emb_b", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cond = F.round(dot, 6) >= 0.4
        if self_join:
            cond = cond & (F.col("id_a") < F.col("id_b"))
        return (
            a.crossJoin(b)
            .filter(cond)
            .select("id_a", "id_b", F.round(dot, 6).alias("cos"))
        )

    for cast_to in ("string", "double"):
        for self_join in (True, False):
            assert optimizer.try_rewrite_similarity_join(
                naive_with_id_type(cast_to, self_join=self_join)
            ) is None, f"{cast_to} id must decline (self_join={self_join})"
    # integral-but-not-bigint ids still match (int is lossless in long)
    assert optimizer.try_rewrite_similarity_join(
        naive_with_id_type("int", self_join=False)
    ) is not None


def test_rewrite_declines_when_jvm_internal_moves(spark, multi_rg_sf_dir, monkeypatch):
    """Version guard (round-7 verdict #5): the rule reaches JVM
    internals PySpark does not pledge stable; when one moves (simulated
    by breaking optimizer._of_rows the way a relocated
    classic.Dataset.ofRows would), try_rewrite must DECLINE — and the
    pass-through wrapper must hand back the original naive plan, which
    still returns correct rows."""
    from pyspark_caffe_spark import optimizer

    def broken(*a, **k):
        raise AttributeError("org.apache.spark.sql.classic.Dataset moved")

    monkeypatch.setattr(optimizer, "_of_rows", broken)
    naive = _naive_cosine_join(spark, multi_rg_sf_dir)
    assert optimizer.try_rewrite_similarity_join(naive) is None
    out = optimizer.rewrite_similarity_join(naive)
    assert out is naive
    rows = out.limit(5).collect()
    assert all(r.cos >= 0.4 for r in rows)


@pytest.mark.parametrize(
    "key,n_exchange",
    [("join_asof", 1), ("join_asof_tolerance", 1), ("join_asof_nearest", 1), ("events_resample_interpolate", 2)],
)
def test_asof_bracket_one_window(spark, multi_rg_sf_dir, key, n_exchange):
    """Every as-of key runs joins.asof_bracket: both frames (``prev``
    and ``next``) share one (partition, order) spec, so the plan holds
    exactly ONE Window node — a per-frame window would double the
    sort.  The union is never shuffled twice: the three joins have one
    Exchange, on user_id under the window.  events_resample_interpolate
    repartitions its observations by user_id for the bounds aggregate
    and for the bracket (Catalyst prunes ``v`` from the first, so the
    two are separate Exchanges), and the grid rows, generated on that
    partitioning, cross no Exchange at all."""
    plan = plan_of(QUERIES[key](spark, multi_rg_sf_dir))
    n_window = len(re.findall(r"\(\d+\) Window", plan))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert (n_window, n_ex) == (1, n_exchange), f"plan has {n_window} Window and {n_ex} Exchange nodes"


def test_interval_coalesce_single_shuffle(spark, multi_rg_sf_dir):
    """join_interval_coalesce's two windows AND the island aggregate
    all cluster on user_id (island is a refinement within user), so
    the plan must hold exactly ONE Exchange — partitioning by user_id
    already satisfies the (user_id, island) groupBy's distribution."""
    plan = plan_of(QUERIES["join_interval_coalesce"](spark, multi_rg_sf_dir))
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n == 1, f"expected exactly one Exchange, plan has {n}"


def test_tfidf_final_plan_broadcasts_vocab_join(spark, multi_rg_sf_dir):
    """Round-15 skew-audit pin: the text_tfidf docstring claims AQE
    broadcasts the vocabulary-sized df table under Zipf vocabularies —
    verified at 100x (PERF.md round 15 cont. 2), pinned here at
    fixture scale so a plan regression (e.g. a schema change inflating
    the dfq size estimate past the adaptive threshold) is caught by
    the suite.  The assertion reads the FINAL adaptive plan: on an
    unexecuted DataFrame `executedPlan` prints only the INITIAL plan
    (SortMergeJoin — the thing AQE replaces), and the post-execution
    dump contains BOTH sections, so the check (a) executes the
    DataFrame's own QueryExecution via collect and (b) scopes the
    match to the final-plan section above the `Initial Plan` marker."""
    df = QUERIES["text_tfidf"](spark, multi_rg_sf_dir)
    assert len(df.collect()) > 0  # finalizes THIS QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("Initial Plan")[0]
    assert "BroadcastHashJoin" in final, final[:2000]
    assert "SortMergeJoin" not in final, final[:2000]
    # the broadcast consumed the tf exchange in place: no second
    # token-keyed exchange materialized on the probe side
    assert "WindowGroupLimit" in final  # top-5 pruned below the window
    # Round-19 shape pins: ONE corpus-sized exchange total — the
    # user repartition("doc_id") (REPARTITION_BY_COL) that the tf
    # aggregation, the top-5 window, AND (via ReusedExchange) the dfq
    # branch all ride.  A regression re-introducing the scored-rows
    # exchange would put an ENSURE_REQUIREMENTS hashpartitioning
    # exchange between the window and the join; a canonicalization
    # break in the dfq branch would drop the ReusedExchange and
    # re-scan the corpus.
    real_reparts = [
        ln
        for ln in final.splitlines()
        if "REPARTITION_BY_COL" in ln and "ReusedExchange" not in ln
    ]
    assert len(real_reparts) == 1, final[:2000]
    assert "ReusedExchange" in final, final[:2000]
    window_part = final.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in window_part, window_part[:2000]
    # The exchange carries each document's sorted bag of words, not its
    # text: its child projects (doc_id, array_join(sort_array(split(
    # text)))) and nothing above it sorts words.
    lines = final.splitlines()
    at = lines.index(real_reparts[0])
    assert re.search(
        r"Project \[doc_id#\d+L, array_join\(sort_array\(split\(text#", lines[at + 1]
    ), lines[at + 1]
    assert not any("sort_array" in ln for ln in lines[:at]), final[:2000]


def test_ann_fence_serializes_threaded_writers(tmp_path):
    """Round-15 writer-fence stress: N threads race fenced
    read-modify-commit loops (each retries on AnnConcurrentWriterError
    with a fresh layout read — the documented recovery).  The fence
    must serialize them into a lost-update-free history: every
    thread's segment line lands exactly once, and the observed
    conflict count is consistent with real contention (no silent
    interleaved replace ever drops a committed line)."""
    import threading

    import pyspark_caffe_spark.queries.scale_ops as so

    root = str(tmp_path)
    so._ann_manifest_commit(root, ("postings", 0, 0), ())
    n_threads, conflicts = 8, []
    errs = []

    def writer(i: int) -> None:
        for attempt in range(200):
            snap = so._ann_manifest_read(root)
            gen, segs = snap[:3], snap[3]
            new_segs = tuple(segs) + ((f"postings_seg{i}", i + 1, 100 + i),)
            try:
                so._ann_manifest_commit(root, gen, new_segs, expected=snap)
                return
            except so.AnnConcurrentWriterError:
                conflicts.append(i)  # retry from a fresh read
            except Exception as ex:  # noqa: BLE001
                errs.append(ex)
                return
        errs.append(RuntimeError(f"writer {i} starved"))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errs, errs
    _name, _n, _fp, segs = so._ann_manifest_read(root)
    names = sorted(s[0] for s in segs)
    assert names == sorted(f"postings_seg{i}" for i in range(n_threads)), (
        f"lost update: {names} (conflict retries observed: {len(conflicts)})"
    )
    # deltas survived intact too — the derived stamp is exact
    assert sum(s[1] for s in segs) == sum(range(1, n_threads + 1))


# The one-split rule of tables.load_table: a table of one parquet row
# group, no larger than spark.sql.files.maxPartitionBytes, is read as
# one partition (``Coalesce 1``), and its aggregates, windows and
# dedups plan no Exchange.
_ONE_SPLIT_KEYS = ["agg_hash_groupby", "win_rank_topk", "fn_map_json", "pipeline_training_snapshot"]
_N_EXCHANGE = r"\(\d+\) Exchange"
_COALESCE_1 = r"\(\d+\) Coalesce\nInput \[\d+\]: \[.*\]\nArguments: 1\n"


@pytest.mark.parametrize("key", _ONE_SPLIT_KEYS)
def test_one_row_group_table_plans_no_exchange(spark, sf_dir, key):
    plan = plan_of(QUERIES[key](spark, sf_dir))
    assert re.search(_COALESCE_1, plan), f"{key}: no Coalesce 1 over the one-row-group scan"
    assert not re.search(_N_EXCHANGE, plan), f"{key}: a one-partition input still plans an Exchange"


@pytest.mark.parametrize("key", _ONE_SPLIT_KEYS)
def test_multi_row_group_table_keeps_exchange(spark, multi_rg_sf_dir, key):
    plan = plan_of(QUERIES[key](spark, multi_rg_sf_dir))
    assert "Coalesce" not in plan, f"{key}: a table of several row groups was coalesced"
    assert re.search(_N_EXCHANGE, plan), f"{key}: lost its Exchange on a parallel scan"


def test_one_row_group_over_max_partition_bytes_keeps_exchange(spark, sf_dir):
    """The size guard: a one-row-group table larger than the session's
    spark.sql.files.maxPartitionBytes keeps its parallel plan."""
    from pyspark_caffe_spark.tables import footers

    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "64k")
        assert footers(f"{sf_dir}/lineitem.parquet").bytes > 64 << 10
        plan = plan_of(QUERIES["agg_hash_groupby"](spark, sf_dir))
    finally:
        spark.conf.set(key, saved)
    assert "Coalesce" not in plan
    assert re.search(_N_EXCHANGE, plan)


@pytest.mark.parametrize(
    "key",
    [
        "agg_hash_groupby", "join_multiway", "win_rank_topk", "agg_q6_selective", "fn_map_json",
        "topk_global", "text_tfidf", "pipeline_training_snapshot", "sim_optimizer_rewrite",
        "ml_model_apply",
    ],
)
def test_one_split_rule_keeps_rows(spark, sf_dir, multi_rg_sf_dir, key):
    """The benchmark keys return the same sorted rows whether their
    tables are read as one partition or as several."""
    from tests.parity import normalize_result, spark_result

    one, many = (normalize_result(*spark_result(QUERIES[key](spark, d))) for d in (sf_dir, multi_rg_sf_dir))
    assert one == many
