"""Physical-plan quality gates.

Correctness tests prove the small-SF answer; these prove the plan is
the one we'd want at 100 TB: filters reach the parquet scan, small
dimensions broadcast, big joins stay shuffle-based (no accidental
cartesian/nested-loop), and no row-at-a-time Python sits in relational
hot paths. A regression here is a scale bug even when every value
matches.
"""

from __future__ import annotations

import contextlib
import io

import pytest

import hephaestus_spark.queries  # noqa: F401 — registration
from hephaestus_spark.registry import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q2_pushes_filters_and_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q02_filter_pushdown")
    assert "PushedFilters: [" in plan
    # at least the shipdate bound must reach the scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read all 16 lineitem columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read_schema.count(":") <= 8, read_schema


def test_q4_star_joins_are_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q04_join_broadcast")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q3_large_join_is_not_nested_loop(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q03_join_inner")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q9_agg_is_partial_final_and_codegen(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q09_agg_tpch_q1")
    # partial+final hash aggregation around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # whole-stage codegen covers the agg (AQE's formatted output hides
    # codegen spans pre-execution, so ask for the codegen view)
    df = QUERIES["q09_agg_tpch_q1"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen subtrees" in buf.getvalue()


def test_q23_merge_joins_without_replication(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q23_scd1_merge")
    # full-outer cannot broadcast; must be a sort-merge join, once
    assert "SortMergeJoin FullOuter" in plan or "SortMergeJoin [id" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["q03_join_inner", "q05_join_left_count", "q09_agg_tpch_q1",
     "q12_window_rank", "q15_topk", "q31_top_tokens", "q32_exact_dedup"],
)
def test_relational_hot_paths_are_jvm_only(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, f"{name} fell off codegen into Python"


@pytest.mark.parametrize("name", ["q33_near_dedup_jaccard", "x_embed_near_dup"])
def test_near_dedup_candidates_are_banded_equi_joins(spark, sf_dir, name):
    # Candidate generation must be the LSH band-bucket EQUI-join — an
    # all-pairs nested loop (or cartesian) here is O(n^2) in the corpus
    # and unbounded on hot keys, a 100 TB scale-killer.
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastNestedLoopJoin" not in plan, f"{name} planned a nested loop"
    assert "CartesianProduct" not in plan, f"{name} planned a cartesian product"


def test_q15_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q15_topk")
    # orderBy().limit() must plan as TakeOrderedAndProject, not a full
    # global Sort + Exchange of the whole fact
    assert "TakeOrderedAndProject" in plan


def test_q18_topk_avoids_global_sort_and_stays_jvm(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "x_tpch_q18")
    # final top-100 must be a per-partition heap + driver merge, never a
    # full Sort+Exchange of the joined result
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bloom_prune_filters_fact_before_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "x_bloom_prune_join")
    # the bloom probe is a broadcast of ONE bitmap row + a codegen'd
    # filter — the fact side must not reach the exact join unfiltered
    # through a nested loop over the keyset
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "xxhash64" in plan  # the salted probe positions ran scan-side
    assert "BatchEvalPython" not in plan


def test_weighted_sample_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "x_weighted_sample")
    # A-ES top-k must be a per-partition heap, never Sort+Exchange of
    # the whole corpus
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[0]


def test_embed_quantize_is_scan_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "x_embed_quantize")
    # pure projection: no shuffle, no Python
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_contamination_benchmark_side_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "x_contamination")
    # eval-suite shingles are small by nature: the overlap check must be
    # a broadcast join of the benchmark side, never a corpus shuffle
    # join or a cross product — and all-JVM (no Python in the path)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_fuzzy_match_has_no_cross_product(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "x_fuzzy_match")
    # blocking must keep levenshtein inside equi-join blocks
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan


def test_repetition_and_source_mix_stay_jvm(spark, sf_dir):
    for name in ("x_repetition_stats", "x_source_mix"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name


def test_q19_shape_build_side_prefiltered(spark, sf_dir):
    """x_tpch_q19: the part-only implicant of the OR must reach the
    part scan (PushedFilters mentions p_brand), and the join must stay
    hash-based — a naive OR-join would degenerate to nested-loop."""
    plan = plan_of(spark, sf_dir, "x_tpch_q19")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # brand/size implicant reaches the part scan as a pushed filter
    assert "EqualTo(p_brand,Brand#2)" in plan
    # Catalyst additionally derives the quantity-range union for the
    # lineitem scan from the OR — keep that too
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan


def test_blocklist_filter_is_scan_side(spark, sf_dir):
    """x_blocklist_filter: blocklists inline as literal arrays — the
    whole query must be a single scan with NO shuffle and NO join."""
    plan = plan_of(spark, sf_dir, "x_blocklist_filter")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_encode_is_scan_side(spark, sf_dir):
    """pq_encode: codes come from literal-codebook expressions — a pure
    projection (no shuffle, no Python, no join)."""
    import hephaestus_spark.operators.similarity as sim
    from hephaestus_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cbs = sim.pq_train(e, m=4, k=8, n_iter=1)
    df = sim.pq_encode(e, cbs)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q33_capped_candidates_have_no_window(spark, sf_dir):
    """r5 plan shape: the capped candidate stage is a (t, v) aggregate
    + explode — the r4 count window (evaluated once per self-join side)
    must be gone."""
    from hephaestus_spark.operators.textops import (
        minhash_candidate_pairs, minhash_signature_table, shingle_table)
    from hephaestus_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = minhash_signature_table(shingle_table(d, n=5), n_tables=4)
    cand = minhash_candidate_pairs(sig, n_tables=4)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "collect_list" in plan


# ---------------------------------------------------------------------------
# r5: the 12 TPC-H completions (queries/tpch.py)
# ---------------------------------------------------------------------------

def test_tpch_q4_exists_is_semi_join_not_aggregation(spark, sf_dir):
    """The EXISTS must run as one residual-condition semi join — never
    a count-matches aggregate or a nested loop over the fact."""
    plan = plan_of(spark, sf_dir, "x_tpch_q4")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q6_predicates_reach_the_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "x_tpch_q6")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan


def test_tpch_q8_dimensions_broadcast(spark, sf_dir):
    """part filter, both nation copies and region must all broadcast;
    only the fact-fact joins may shuffle."""
    plan = plan_of(spark, sf_dir, "x_tpch_q8")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_tpch_q16_not_in_is_broadcast_anti_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "x_tpch_q16")
    assert "LeftAnti, BuildRight" in plan or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    )


def test_tpch_q17_decorrelated_avg_scans_fact_once(spark, sf_dir):
    """The correlated-avg decorrelation must NOT rescan lineitem for
    the per-part stats: the sum/count ride a whole-partition window
    over l_partkey, so the plan is exactly lineitem + part (each scan
    appears twice in formatted output: tree + detail section), one
    Window, and no join-back."""
    plan = plan_of(spark, sf_dir, "x_tpch_q17")
    assert plan.count("Scan parquet") <= 4  # 2 distinct scans x 2 listings
    assert "Window" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["x_tpch_q2", "x_tpch_q9", "x_tpch_q11", "x_tpch_q13", "x_tpch_q15",
     "x_tpch_q20", "x_tpch_q21"],
)
def test_tpch_completions_stay_jvm_and_join_safely(spark, sf_dir, name):
    """No Python evaluation and no accidental cartesian anywhere in the
    12 completions (the q11/q15 crossJoin is a 1-row broadcast — Spark
    plans it as BroadcastNestedLoopJoin over a single row, which is the
    intended scalar-subquery shape, so only CartesianProduct is
    banned)."""
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_df_is_single_corpus_pass(spark, sf_dir):
    """df must ride a count window over the tf rows (no second corpus
    scan — a groupBy+join-back spelling re-scanned AND re-shingled the
    corpus, and runtime ReuseExchange could not dedupe the pruned
    subtrees): the plan reads documents for tf and for the 1-row doc
    count only — 2 distinct scans (x2 formatted listings), one Window
    over token, no Python."""
    plan = plan_of(spark, sf_dir, "x_tfidf_keywords")
    assert plan.count("Scan parquet") <= 4
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_dedup_broadcasts_batch_not_corpus(spark, sf_dir):
    """The batch side must broadcast into the corpus bands and the
    batch shingles into the verify join — the corpus is never on the
    build side of a broadcast."""
    plan = plan_of(spark, sf_dir, "x_incremental_dedup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["x_pack_sequences", "x_negative_sampling", "x_zorder_key"]
)
def test_training_and_layout_ops_stay_jvm(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_window_is_sharded(spark, sf_dir):
    """The packing window must partition by shard — a global (empty
    partition-by) running sum would serialize the corpus through one
    task."""
    plan = plan_of(spark, sf_dir, "x_pack_sequences")
    assert "Window" in plan
    import re as _re
    wline = next(l for l in plan.splitlines() if "partitionBy" in l.lower() or "windowspecdefinition(shard" in l.lower() or "Arguments" in l and "shard" in l)
    assert "shard" in wline


def test_tpch_q5_supplier_dim_broadcasts_after_prefilter(spark, sf_dir):
    """r5b regression guard: the ASIA-pre-filtered supplier dim must
    stay a broadcast build side — without the explicit hint Catalyst
    loses the size estimate across the pre-filter join and falls back
    to a SortMergeJoin that shuffles the whole fact stream."""
    plan = plan_of(spark, sf_dir, "x_tpch_q5")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_new_sketch_and_sample_queries_stay_jvm(spark, sf_dir):
    """No Python UDFs in any r5b operator's hot path."""
    for name in (
        "x_hll_custom",
        "x_cms_custom",
        "x_hll_sliding_distinct",
        "x_quantile_sketch",
        "x_exact_quantile_by_rank",
        "x_cdc_apply",
        "x_substring_dedup",
        "x_bm25_search",
        "x_dsir_weights",
        "x_pmi_cooccurrence",
        "x_mix_temperature",
        "x_resample_ffill",
        "x_ewma",
        "x_markov_transitions",
        "x_samples_per_group",
        "x_quantized_centroids",
        "x_lm_perplexity",
        "x_containment",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
