"""Commit-path scale pin: a partitioned MERGE against a 1000-partition
Delta table must plan and commit O(touched partition), never O(table).
SCALE.md's query-side rows cover scans; this pins the WRITE path — the
touched-file probe must stats-prune to exactly the target partition's
files before any data is read, and the commit must remove/re-add only
those files.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.tables import LakeTable
import pytest

N_PARTS = 1000


@pytest.mark.slow
def test_merge_touching_one_of_1000_partitions(spark, tmp_path):
    df = spark.range(N_PARTS * 10).select(
        F.col("id").alias("k"),
        (F.col("id") % N_PARTS).alias("p"),
        F.lit(0).cast("long").alias("v"),
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "parts1000"),
        df=df.repartition(N_PARTS, "p"),
        partition_by=["p"],
    )
    files = t._files()
    assert len({e["partitionValues"]["p"] for e in files}) == N_PARTS
    target_files = [e for e in files if e["partitionValues"]["p"] == "437"]
    assert target_files  # the partition exists and has its own files

    # MERGE whose source lives entirely in partition 437; the t.p = s.p
    # equality gives the probe a point interval on the partition column
    src = spark.range(N_PARTS * 10).select(
        F.col("id").alias("k"), (F.col("id") % N_PARTS).alias("p")
    ).filter("p = 437")
    t0 = time.monotonic()
    m = (
        t.merge(src, "t.k = s.k AND t.p = s.p")
        .whenMatchedUpdate({"v": "t.v + 1"})
        .execute()
    )
    elapsed = time.monotonic() - t0

    # commit touched EXACTLY the target partition's files
    assert m["numRemovedFiles"] == len(target_files)
    assert m["numTargetRowsUpdated"] == 10
    latest = t._log.read_commit(t.root, t.version())
    assert sorted(latest["remove"]) == sorted(
        e["path"] for e in target_files
    )
    assert all(
        a["partitionValues"]["p"] == "437" for a in latest["add"]
    )
    # correctness: only partition 437 changed
    got = t.to_df().groupBy("p").agg(F.sum("v").alias("s"))
    changed = {r["p"]: r["s"] for r in got.filter("s > 0").collect()}
    assert changed == {437: 10}
    # smoke bound, generous for CI noise: the probe+rewrite must be
    # seconds (O(1 partition)), not minutes (O(1000 partitions))
    assert elapsed < 120, f"1-of-1000-partition MERGE took {elapsed:.1f}s"
    print(f"\n1-of-1000-partition MERGE: {elapsed:.2f}s")
