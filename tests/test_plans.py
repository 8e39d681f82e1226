"""Plan contracts (SURVEY §4): the physical plans the engine promises.

These assert Catalyst properties the 100 TB design depends on —
predicate pushdown into the parquet scan, column pruning, broadcast
joins for dimensions, distributed top-K for pagination. A refactor that
silently loses one of these still passes value-equality tests; this
file is what catches it.
"""

from __future__ import annotations

import pathlib

import pytest

from beis_orp_data_service_spark import declared
from tests.conftest import SF_SMOKE


def plan_of(name: str, spark) -> str:
    df = declared.REGISTRY[name].fn(spark, SF_SMOKE)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_range_filter_pushed_to_scan(spark):
    plan = plan_of("q_range", spark)
    assert "PushedFilters" in plan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:200]


def test_point_lookup_pushed(spark):
    plan = plan_of("q_point", spark)
    pushed = plan.split("PushedFilters")[1][:120]
    assert "EqualTo(doc_id,42)" in pushed.replace(" ", "")


def test_column_pruning_on_narrow_projection(spark):
    # q_eq projects (doc_id, n_chars): the scan must not read `text`
    plan = plan_of("q_eq", spark)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" not in read_schema
    assert "doc_id" in read_schema and "n_chars" in read_schema


def test_traverse_broadcasts_dimension(spark):
    plan = plan_of("q_traverse", spark)
    assert "BroadcastHashJoin" in plan


def test_sort_page_is_distributed_topk(spark):
    # pagination must compile to TakeOrderedAndProject, not a global sort
    plan = plan_of("q_sort_page", spark)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_minhash_partial_aggregation(spark):
    # explode → groupBy must do map-side partial min before the shuffle
    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.operators.dedup import minhash_signature

    docs = load_table(spark, SF_SMOKE, "documents")
    df = minhash_signature(docs, "doc_id", "text")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_anti_insert_uses_anti_join(spark):
    plan = plan_of("anti_insert", spark)
    assert "LeftAnti" in plan


def test_semi_join_for_candidate_prune(spark):
    plan = plan_of("lo_candidates", spark)
    assert "LeftSemi" in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed by the join key into the same bucket count
    must join bucket-to-bucket: SortMergeJoin with NO Exchange on either
    side — the co-located-join layout contract for the 100 TB fact
    family."""
    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.sources import bucketed as bk

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bk.write_bucketed(docs, "bk_docs", "doc_id", 4)
        bk.write_bucketed(
            embs.withColumnRenamed("vec_id", "doc_id"), "bk_embs", "doc_id", 4
        )
        joined = bk.read_bucketed(spark, "bk_docs").join(
            bk.read_bucketed(spark, "bk_embs"), "doc_id"
        )
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bk_docs")
        spark.sql("DROP TABLE IF EXISTS bk_embs")


def test_stratified_sample_no_shuffle(spark):
    # pure per-row hash filter: no Exchange anywhere in the plan, and
    # the scan prunes to the three projected columns
    plan = plan_of("stratified_sample", spark)
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" not in read_schema


def test_pii_redact_no_shuffle_and_pruned(spark):
    plan = plan_of("pii_redact", spark)
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema


def test_seq_pack_partitions_window_by_shard(spark):
    # the packing window must hash-partition by the shard column —
    # never a single global ordering partition
    plan = plan_of("seq_pack", spark)
    assert "Window" in plan
    assert "hashpartitioning(source" in plan


def test_mixture_rates_join_is_broadcast(spark):
    plan = plan_of("mixture_sample", spark)
    assert "BroadcastHashJoin" in plan


def test_gopher_quality_partial_aggregation(spark):
    # the (doc, word) aggregation must combine map-side before its
    # shuffle: HashAggregate below the Exchange
    plan = plan_of("gopher_quality", spark)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_bloom_probe_broadcast_filter_and_partial_bitor(spark):
    # the filter side must broadcast (it is <= m/32 rows) and the
    # bit_or build must partially aggregate map-side before its shuffle
    plan = plan_of("bloom_probe", spark)
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_canonical_docs_no_window_funnel(spark):
    # the keep-decision is a max-struct aggregation, never a window
    # sort over cluster_id (the skew funnel); struct max compiles to
    # SortAggregate, still with a map-side partial before the shuffle
    plan = plan_of("canonical_docs", spark)
    assert "Window" not in plan
    assert plan.count("SortAggregate") >= 2
    assert "partial" in plan


def test_first_50_registrations_are_oracle_grade(spark):
    """The driver's CORRECTNESS file samples the first 50 registered
    queries; every one of them must carry a DuckDB oracle (sql != None)
    so the sampled window gets hash checks, not rows-only. Guards the
    registration-order hygiene across future additions."""
    from beis_orp_data_service_spark import declared

    first50 = list(declared.REGISTRY.items())[:50]
    rows_only = [n for n, qd in first50 if qd.sql is None]
    assert rows_only == [], f"rows-only queries inside the driver window: {rows_only}"


def test_simhash_pairs_dedupe_is_codegen_not_shuffle(spark):
    """The first-agreeing-band dedupe must plan as a codegen Filter over
    the join output — NO aggregate over the candidate set (the
    dropDuplicates it replaced would add a partial+final pair) and no
    interpreted forall() in the predicate (higher-order functions fall
    out of whole-stage codegen; only the per-word fingerprint hash may
    carry a lambda)."""
    plan = plan_of("simhash_pairs", spark)
    # count operators in the plan TREE only (the formatted detail
    # sections repeat every node name once more below it)
    tree = plan.split("\n\n")[0]
    # aggregates: partial+final fingerprint groupBy per join side — a
    # candidate-set distinct would add a fifth/sixth
    assert tree.count("HashAggregate") + tree.count("SortAggregate") <= 4
    assert "forall" not in plan
    # the hamming verification is a plain bit_count filter
    assert "bit_count" in plan


def test_funnel_step_filters_pushed_to_scan(spark):
    # each funnel step's event_type filter must reach the parquet scan
    plan = plan_of("funnel_steps", spark)
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:200]


def test_profile_is_one_scan_with_expand(spark):
    # single aggregate job: exactly one parquet scan, multi-distinct
    # planned via Expand — no per-column jobs
    plan = plan_of("profile_docs", spark)
    # tree form "Scan parquet  (n)" counts physical occurrences once
    # (the formatted string repeats each node in the detail section)
    assert plan.count("Scan parquet  (") == 1
    assert "Expand" in plan


def test_transitions_window_is_partitioned_by_user(spark):
    # the LAG window must be keyed (no global single-partition window)
    plan = plan_of("transitions", spark)
    import re

    m = re.search(r"Arguments:.*?partitionspec.*", plan, re.I | re.S)
    assert "user_id" in plan
    assert "WindowGroupLimit" in plan or "Window" in plan
    # a global window would warn and show an empty partition spec;
    # assert the spec carries the user key
    win_idx = plan.find("(4) Window") if "(4) Window" in plan else plan.find("Window")
    assert "user_id" in plan[win_idx : win_idx + 800]


def test_skyline_local_then_final_python_stages(spark):
    # two Arrow stages by design: per-partition local skyline, then the
    # one-task final pass over survivors (union superset reduction)
    plan = plan_of("skyline", spark)
    assert plan.count("MapInPandas (") == 1
    assert plan.count("FlatMapGroupsInPandas (") == 1


def test_rerank_model_stage_after_candidate_semi_join(spark):
    # the Arrow scorer must sit above the left-semi candidate prune —
    # inference bounded by the candidate set, never the corpus
    plan = plan_of("search_rerank", spark)
    mp = plan.find("MapInPandas")
    semi = plan.find("LeftSemi")
    assert mp != -1 and semi != -1


def test_setops_rewrite_to_semi_anti_joins(spark):
    # INTERSECT -> LeftSemi, EXCEPT -> LeftAnti: set algebra as joins,
    # not materialized distinct unions
    plan = plan_of("q_setops", spark)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_phrase_search_broadcasts_slots_one_groupby(spark):
    # the slot table (|phrase| rows) must broadcast; vote counting is
    # ONE hash aggregate — no n-way self-join of the token stream
    plan = plan_of("phrase_search", spark)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_semi_join_prunes_before_shuffle(spark):
    # the MG candidate set must reach the exact pass as a broadcast
    # LEFT-SEMI filter — the vocabulary never shuffles
    plan = plan_of("heavy_hitters", spark)
    assert "LeftSemi" in plan
    assert "MapInPandas" in plan  # the bounded candidate pass


def test_quantile_sketch_is_takeordered_not_global_sort(spark):
    plan = plan_of("quantile_sketch", spark)
    assert "TakeOrderedAndProject" in plan


def test_dataset_split_zero_shuffle(spark):
    # pure per-row expression: no Exchange anywhere in the final plan
    plan = plan_of("dataset_split", spark)
    final = plan.split("== Initial Plan ==")[0]  # AQE repeats the tree
    assert "Exchange" not in final


def test_winsorize_bounds_join_is_broadcast(spark):
    plan = plan_of("winsorize", spark)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_group_cap_sample_single_group_shuffle(spark):
    # one hash-partitioning Exchange on the group key feeds the window
    plan = plan_of("group_cap_sample", spark)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 1
    assert "Window" in final


def test_containment_prefix_never_cartesian(spark):
    plan = plan_of("containment_join", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_window_detector_print_contract():
    """Pin the audit's Window print-format parsing (audit_plans.
    global_window_lines): Spark omits EMPTY partition/ordering groups,
    so group count alone is ambiguous — a partition-only window and a
    global ordered window both print 2 groups, told apart by ASC/DESC
    in the last group. A regression here either re-floods the audit
    with false positives (r14's first cut flagged 18 partition-only
    windows) or blinds it to real global windows."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "audit_plans",
        pathlib.Path(__file__).resolve().parents[1] / "scripts" / "audit_plans.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    partitioned = (
        "Window [sum(x#1L) windowspecdefinition(k#2, o#3 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
        " AS s#4L], [k#2], [o#3 ASC NULLS FIRST]"
    )
    partition_only = (
        "Window [min(sent_idx#488) windowspecdefinition(doc_id#5L, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS _first#6], [doc_id#5L]"
    )
    global_ordered = (
        "Window [row_number() windowspecdefinition(d#7 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
        " AS rn#8], [d#7 ASC NULLS FIRST]"
    )
    bare = "Window [count(1) windowspecdefinition(...) AS n#9L]"

    assert mod.global_window_lines(partitioned) == []
    assert mod.global_window_lines(partition_only) == []
    assert len(mod.global_window_lines(global_ordered)) == 1
    assert len(mod.global_window_lines(bare)) == 1
    # multi-line plan: only the Window lines are inspected
    plan = "\n".join(["*(3) Project [x#1]", "+- " + partitioned, "+- " + global_ordered])
    assert len(mod.global_window_lines(plan)) == 1
