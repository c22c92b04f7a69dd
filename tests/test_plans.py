"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the executed plan (pushdown, pruning, broadcast,
partial aggregation, no Python in relational hot paths)."""

from __future__ import annotations

import pytest

from kafka_connect_fs_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_parquet_scan(spark):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning_reads_only_needed_columns(spark):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    scan = plan[plan.index("FileScan") :].split("\n")[0]
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    assert "l_quantity" in scan


def test_region_rollup_broadcasts_dimensions(spark):
    plan = plan_of(QUERIES["region_revenue_rollup"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the fact table must NOT be shuffled for the join (only for the agg)
    assert "SortMergeJoin" not in plan


def test_lww_has_no_python_in_plan(spark):
    plan = plan_of(QUERIES["transcript_final_state"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_max_by" in plan


def test_whole_stage_codegen_in_text_pipeline(spark):
    plan = plan_of(QUERIES["text_quality"](spark, SF_DIR))
    assert "*(1)" in plan  # the '*(n)' prefix marks WholeStageCodegen stages
    assert "BatchEvalPython" not in plan


def test_dedup_exact_partial_aggregates(spark):
    plan = plan_of(QUERIES["dedup_exact"](spark, SF_DIR))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_ngram_jaccard_has_no_self_join_of_shingles(spark):
    """Posting-list candidate generation: ONE aggregation on shingle, pairs
    from an array transform — the plan must not contain a shingle-keyed
    join between two full shingle scans (the r01 self-join whose hot-key
    fanout was the scale risk). The only joins left are the small
    size-lookup joins on doc ids."""
    df = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    plan = plan_of(df)
    assert "collect_list" in plan  # posting lists
    # pair space never materializes via join-on-shingle:
    for line in plan.splitlines():
        if "Join" in line and "shingle" in line:
            assert "LeftSemi" in line, line  # only the df-cap semi-join


def test_mor_read_resolves_with_partial_aggregation(spark, tmp_path):
    """MoR read-time LWW must partial-aggregate map-side (hot conv_ids
    reduce before the shuffle) and stay Python-free."""
    import datetime as dt

    from kafka_connect_fs_spark.plans.lake import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), keys=["conv_id", "turn_idx"], ts_col="ts",
        n_buckets=4,
    )
    S = "conv_id string, turn_idx int, text string, ts timestamp"
    t.merge(spark.createDataFrame([("c1", 0, "a", dt.datetime(2024, 1, 1))], S), "b1")
    t.merge(spark.createDataFrame([("c1", 0, "b", dt.datetime(2024, 1, 2))], S), "b2")
    plan = plan_of(t.read())
    assert "partial_max_by" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.index("partial_max_by") > plan.index("Exchange")  # below the shuffle


def test_ngram_jaccard_explode_computed_once(spark):
    """The r02 regression: the shingle explode fed three consumers (df cap,
    sizes, postings) and recomputed 3x. The df cap is now a window over the
    shingle shuffle, so AQE's exchange reuse collapses every consumer onto
    ONE executed scan+explode; the sizes branch and the second size join
    must show up as Reused nodes in the final adaptive plan."""
    df = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    df.collect()  # finalize the adaptive plan
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1  # one executed scan of documents
    assert final.count("ReusedExchange") >= 2  # shingle shuffle + size bcast


def test_stratified_sample_is_scan_side_filter(spark):
    """Hash sampling must stay a narrow filter: no Exchange, no Python,
    and the CASE-threshold predicate evaluated in the scan stage."""
    plan = plan_of(QUERIES["sample_stratified"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_single_shuffle_on_shard(spark):
    """Concat-and-chunk packing shuffles ONCE (hash on shard); no global
    sort (a range Exchange would mean a single-ordering bottleneck)."""
    plan = plan_of(QUERIES["pack_sequences"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
