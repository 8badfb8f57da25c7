"""Physical-plan quality gates: these tests pin the optimizer
behaviors the 100 TB design depends on (SURVEY §4). A regression that
silently turns a broadcast join into a shuffle, or drops a filter
pushdown, fails here long before it shows up in a benchmark.
"""

from __future__ import annotations

import re

import pytest

from databricks_delta_lake_project_spark.queries.catalog import (
    QUERIES,
    RETIRED_QUERIES,
)

from conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = {**QUERIES, **RETIRED_QUERIES}[name][0](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q01_partial_aggregation(spark):
    # partial (map-side) aggregate before the shuffle: two HashAggregate
    # levels around one Exchange — shuffle volume is O(groups), not O(rows)
    plan = _plan(spark, "q01_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    agg_section = plan[: plan.index("Exchange")]
    assert "HashAggregate" in agg_section


def test_q01_column_pruning(spark):
    plan = _plan(spark, "q01_pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # only the 7 needed columns are read, not the full 11-column table
    assert "l_orderkey" not in scan
    assert "l_partkey" not in scan
    assert "l_quantity" in scan and "l_returnflag" in scan


def test_q08_top_k_not_global_sort(spark):
    plan = _plan(spark, "q08_top_customers")
    assert "TakeOrderedAndProject" in plan


def test_q09_dimension_joins_broadcast(spark):
    plan = _plan(spark, "q09_market_share")
    assert plan.count("BroadcastHashJoin") >= 3  # nation, region, dims
    assert "SortMergeJoin" not in plan


def test_q11_anti_join_strategy(spark):
    plan = _plan(spark, "q11_customers_without_orders")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q17_semi_join_strategy(spark):
    plan = _plan(spark, "q17_order_priority_exists")
    assert "LeftSemi" in plan


def test_q05_sessionization_single_user_shuffle(spark):
    # both windows and the final aggregate partition on user_id: the
    # plan must not re-shuffle between window and aggregate
    plan = _plan(spark, "q05_sessionization")
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 1, f"expected 1 user_id shuffle, got {n_shuffles}"


def test_q14_no_python_udf(spark):
    # text scoring must stay JVM-side (higher-order functions), never a
    # Python row-path
    plan = _plan(spark, "q14_doc_quality")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_no_python_udf_anywhere(spark):
    # the whole catalog is JVM-side; the ONE deliberate Python crossing
    # is q42's Arrow-batched MapInPandas (never row-at-a-time
    # BatchEvalPython / scalar ArrowEvalPython)
    offenders = []
    for name in QUERIES:
        plan = _plan(spark, name)
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_q42_arrow_batched_python(spark):
    plan = _plan(spark, "q42_multimodal_features")
    assert "MapInPandas" in plan


def test_array_native_queries_no_explode(spark):
    # map-side array formulations: every embedding query must NOT
    # explode per-dimension rows
    for name in (
        "q33_embedding_norms",
        "q34_knn_bruteforce",
        "q35_ann_sign_lsh",
        "q41_embedding_near_dup",
    ):
        plan = _plan(spark, name)
        assert "Generate" not in plan, f"{name} regressed to explode"


def test_block_collect_pair_queries_single_generate(spark):
    # q30/q31 derive shingle-sets/fingerprints ONCE (a self-join would
    # run the derivation per side) and generate within-block pairs
    # map-side: exactly one Generate (the pair explode) and no join
    for name in ("q30_ngram_jaccard_pairs", "q31_simhash_pairs"):
        plan = _plan(spark, name)
        assert plan.count("Generate") == 1, f"{name}: {plan.count('Generate')}"
        assert "Join" not in plan, f"{name} regressed to a pair self-join"


def test_q41_no_pair_scale_window_shuffle(spark):
    # the cosine threshold reads a projected alias, not a
    # Window.partitionBy(id_a, id_b) barrier: zero Window operators and
    # zero hash-partitioned exchanges on the candidate-pair keys — at
    # 100 TB pair volume that second pair-scale exchange dominates
    plan = _plan(spark, "q41_embedding_near_dup")
    assert "Window" not in plan, "q41 regressed to a pair-key window barrier"
    assert "hashpartitioning(id_a" not in plan
    assert "BroadcastExchange" in plan  # bucket self-join stays broadcast


def test_q34_q35_broadcast_query_side(spark):
    # the tiny query set must broadcast — a shuffled join here would
    # move the full candidate table at scale
    for name in ("q34_knn_bruteforce", "q35_ann_sign_lsh"):
        plan = _plan(spark, name)
        assert "BroadcastExchange" in plan, name


def test_q34_q35_local_topk_before_merge_window(spark):
    # top-k = Arrow-batched LOCAL prune (MapInPandas, shuffle-free)
    # below a merge window over partitions x k survivors — never a
    # query_id-partitioned window over the full candidate set, which
    # would serialize every candidate row through N_QUERIES partitions
    for name in ("q34_knn_bruteforce", "q35_ann_sign_lsh"):
        plan = _plan(spark, name)
        assert "MapInPandas" in plan, f"{name} lost the local top-k prune"
        # plans print top-down: the merge Window must be ABOVE (before)
        # the local prune, i.e. it only ever sees pruned rows
        assert plan.index("Window") < plan.index("MapInPandas"), name


def test_whole_stage_codegen_active(spark):
    # AQE shows the final plan only after execution; codegen stages are
    # the `*(n)` markers on operators
    import re

    df = QUERIES["q01_pricing_summary"][0](spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan[:500]


def test_partitioned_delta_scan_is_single_filescan_with_partition_pruning(
    spark, tmp_path
):
    """A partitioned Delta table read must compile to ONE FileScan with
    the partition predicate in PartitionFilters (Spark-level pruning on
    top of the driver-side partitionValues skip) and a ReadSchema that
    EXCLUDES the partition column — never a union of per-partition
    scans, never a full-schema read."""
    from pyspark.sql import Row, functions as F

    from databricks_delta_lake_project_spark.tables import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "plan_part"),
        df=spark.createDataFrame(
            [Row(day=f"d{i % 3}", id=i) for i in range(30)]
        ).repartition(3, "day"),
        partition_by=["day"],
    )
    df = t.to_df().filter(F.col("day") == "d1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan, plan
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    assert re.search(r"day#\d+ = d1", plan), plan
    # partition column served from the directory index, not the files
    assert "ReadSchema: struct<id:bigint>" in plan, plan


def test_q38_single_column_scan_window_over_grouped_rows(spark):
    """q38 share-of-total: the scan reads ONLY c_mktsegment, the
    count aggregates partially before its hash shuffle, and the
    unpartitioned window runs AFTER the aggregation over a
    SinglePartition gather of the O(segments) grouped rows — exactly
    two exchanges total. A third exchange (or a window before the
    aggregate) means the share computation started moving
    pre-aggregation rows. Pinned for drift attribution (BASELINE.md
    q38 row)."""
    plan = _plan(spark, "q38_segment_share")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "ReadSchema: struct<c_mktsegment:string>" in scan, scan
    assert plan.count("HashAggregate") == 2, plan
    # partial aggregate sits below the first exchange
    assert "HashAggregate" in plan[plan.index("Exchange hashpartitioning"):], plan
    assert plan.count("Exchange") == 2, plan
    assert "Exchange SinglePartition" in plan, plan
    # the window consumes the gathered grouped rows, not scan rows
    assert plan.index("Window") < plan.index("Exchange SinglePartition"), plan
