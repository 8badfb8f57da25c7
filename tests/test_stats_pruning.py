"""Footer-stats file pruning: DELETE/UPDATE/MERGE must touch only
files whose [min, max] can contain matching rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.tables import LakeTable
from databricks_delta_lake_project_spark.tables.table import (
    _prune_by_stats,
    predicate_bounds,
)


def test_predicate_bounds_extraction():
    assert predicate_bounds("k = 5") == {"k": (5, 5)}
    assert predicate_bounds("k >= 3 AND k < 9") == {"k": (3, 9)}
    assert predicate_bounds("k = 5 AND city = 'NY'") == {
        "k": (5, 5), "city": ("NY", "NY")
    }
    # anything non-conjunctive or complex: no pruning
    assert predicate_bounds("k = 5 OR k = 7") == {}
    assert predicate_bounds("NOT (k = 5)") == {}
    assert predicate_bounds("abs(k) = 5") == {}


def test_prune_by_stats_keeps_possible_files():
    files = [
        {"path": "a", "stats": {"k": {"min": 0, "max": 9}}},
        {"path": "b", "stats": {"k": {"min": 10, "max": 19}}},
        {"path": "c", "stats": {}},  # no stats -> never pruned
    ]
    kept = _prune_by_stats(files, {"k": (12, 15)})
    assert [f["path"] for f in kept] == ["b", "c"]
    kept = _prune_by_stats(files, {"k": (5, None)})
    assert [f["path"] for f in kept] == ["a", "b", "c"]
    assert _prune_by_stats(files, {}) == files


@pytest.fixture()
def ranged_table(spark, tmp_path):
    """10 files with disjoint k-ranges (0-99, 100-199, ...)."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), df=df)
    t.optimize(zorder_by=["k"], target_files=10)
    assert len(t._files()) == 10
    return t


def test_delete_prunes_files(spark, ranged_table):
    res = ranged_table.delete("k = 250")
    assert res["numDeletedRows"] == 1
    # only the one file whose range contains 250 was rewritten
    assert res["numRemovedFiles"] == 1


def test_update_prunes_files(spark, ranged_table):
    res = ranged_table.update("k >= 980", {"v": "0"})
    assert res["numUpdatedRows"] == 20
    assert res["numRemovedFiles"] == 1


def test_merge_prunes_files_by_source_range(spark, ranged_table):
    src = spark.createDataFrame(
        [(101, -1), (150, -2)], "k long, v long"
    )
    res = (
        ranged_table.merge(src, "t.k = s.k")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    assert res["numTargetRowsUpdated"] == 2
    assert res["numRemovedFiles"] == 1  # only the 100-199 file
    # state correct
    got = {
        r["k"]: r["v"]
        for r in ranged_table.to_df().filter("k IN (101, 150, 500)").collect()
    }
    assert got == {101: -1, 150: -2, 500: 1000}


def test_generated_column_partition_pruning(spark, tmp_path):
    """Delta's generated-column partition pruning: a predicate on the
    raw timestamp prunes the DATE partitions generated from it — the
    base-column bounds derive the partition-column interval through
    the monotone generation expression."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
        DateType,
    )

    from databricks_delta_lake_project_spark.tables import LakeTable

    schema = StructType(
        [
            StructField("ts", TimestampType(), True),
            StructField("v", LongType(), True),
            StructField(
                "p_date",
                DateType(),
                True,
                {"delta.generationExpression": "CAST(ts AS DATE)"},
            ),
        ]
    )
    # 10 days x 100 events
    df = (
        spark.range(1000)
        .select(
            F.timestamp_seconds(
                F.lit(1_704_067_200)  # 2024-01-01 00:00:00 UTC
                + (F.col("id") % 10) * 86400
                + (F.col("id") * 37) % 86400
            ).alias("ts"),
            F.col("id").alias("v"),
        )
        .withColumn("p_date", F.lit(None).cast("date"))
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "genpart"),
        df=spark.createDataFrame(df.rdd, schema),
        partition_by=["p_date"],
    )
    n_parts = len({e["partitionValues"]["p_date"] for e in t._files()})
    assert n_parts == 10

    # read path: 2-day ts window opens only those partitions' files
    pred = "ts >= '2024-01-03 00:00:00' AND ts <= '2024-01-04 23:59:59'"
    got = t.read_where(pred)
    assert len(got.inputFiles()) == len(
        [e for e in t._files() if e["partitionValues"]["p_date"] in ("2024-01-03", "2024-01-04")]
    )
    assert got.count() == t.to_df().filter(pred).count() == 200

    # write path: a ts-window DELETE touches only those partitions
    m = t.delete(pred)
    assert m["numDeletedRows"] == 200
    latest = t._log.read_commit(t.root, t.version())
    touched_parts = {
        a["path"].split("/")[1].split("=")[1] for a in [
            {"path": p} for p in latest["remove"]
        ]
    }
    assert touched_parts <= {"2024-01-03", "2024-01-04"}


def test_generated_column_pruning_date_trunc_month(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from databricks_delta_lake_project_spark.tables import LakeTable

    schema = StructType(
        [
            StructField("ts", TimestampType(), True),
            StructField("v", LongType(), True),
            StructField(
                "p_month",
                TimestampType(),
                True,
                {"delta.generationExpression": "date_trunc('month', ts)"},
            ),
        ]
    )
    # 6 months x 50 events
    df = (
        spark.range(300)
        .select(
            F.timestamp_seconds(
                F.lit(1_704_067_200) + (F.col("id") % 6) * 2_592_000
            ).alias("ts"),
            F.col("id").alias("v"),
        )
        .withColumn("p_month", F.lit(None).cast("timestamp"))
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "genmonth"),
        df=spark.createDataFrame(df.rdd, schema),
        partition_by=["p_month"],
    )
    all_files = len(t._files())
    assert all_files >= 4
    pred = "ts >= '2024-02-01 00:00:00' AND ts <= '2024-02-25 00:00:00'"
    got = t.read_where(pred)
    assert len(got.inputFiles()) < all_files
    assert got.count() == t.to_df().filter(pred).count()
