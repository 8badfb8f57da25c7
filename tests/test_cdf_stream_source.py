"""Streaming CDF source (`delta_cdf_stream`, PySpark 4 Python Data
Source API): table versions are the stream offsets, so each commit's
changes are delivered exactly once across restarts; cdc-action
commits serve exact update/delete images, append commits synthesize
inserts, rewrites without cdc fail the stream loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.sources.cdf_stream import (
    register_cdf_stream,
)
from databricks_delta_lake_project_spark.tables import LakeTable


def _drain(spark, root, out_dir, ckpt, starting_version=0):
    register_cdf_stream(spark)
    df = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", root)
        .option("startingVersion", starting_version)
        .load()
    )
    q = (
        df.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(df.schema).parquet(str(out_dir))


def _tuples(df):
    return {
        (r["id"], r["val"], r["_change_type"], r["_commit_version"])
        for r in df.collect()
    }


@pytest.mark.slow
def test_stream_cdf_end_to_end_and_restart(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "cdfsrc"),
        df=spark.createDataFrame(
            [Row(id=1, val="a"), Row(id=2, val="b"), Row(id=3, val="c")]
        ),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.update("id = 2", {"val": "'B!'"})  # v1 (cdc)
    t.delete("id = 1")                    # v2 (cdc)

    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    got = _tuples(_drain(spark, t.root, out, ckpt))
    assert got == {
        (1, "a", "insert", 0),
        (2, "b", "insert", 0),
        (3, "c", "insert", 0),
        (2, "b", "update_preimage", 1),
        (2, "B!", "update_postimage", 1),
        (1, "a", "delete", 2),
    }

    # restart against the same checkpoint: ONLY new commits flow
    t.append(spark.createDataFrame([Row(id=9, val="z")]))  # v3
    got2 = _tuples(_drain(spark, t.root, out, ckpt))
    assert got2 == got | {(9, "z", "insert", 3)}

    # a third drain with no new commits appends nothing
    got3 = _tuples(_drain(spark, t.root, out, ckpt))
    assert got3 == got2


def test_stream_cdf_starting_version(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "cdfsv"),
        df=spark.createDataFrame([Row(id=1, val="a")]),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.append(spark.createDataFrame([Row(id=2, val="b")]))  # v1
    t.delete("id = 1")                                      # v2
    got = _tuples(
        _drain(
            spark,
            t.root,
            tmp_path / "out2",
            tmp_path / "ckpt2",
            starting_version=1,
        )
    )
    assert got == {
        (2, "b", "insert", 1),
        (1, "a", "delete", 2),
    }


def test_stream_cdf_refuses_rewrite_without_cdc(spark, tmp_path):
    # CDF off: the DELETE commit has removes but no cdc actions
    t = LakeTable.create(
        spark,
        str(tmp_path / "nocdf"),
        df=spark.createDataFrame([Row(id=1, val="a"), Row(id=2, val="b")]),
    )
    t.delete("id = 1")
    register_cdf_stream(spark)
    df = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", t.root)
        .load()
    )
    q = (
        df.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="without cdc actions"):
        q.awaitTermination()


def test_stream_cdf_partitioned_table(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "cdfpart"),
        df=spark.createDataFrame(
            [Row(p="x", id=1, val="a"), Row(p="y", id=2, val="b")]
        ),
        partition_by=["p"],
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.delete("id = 2")  # v1, cdc under partition y
    register_cdf_stream(spark)
    df = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", t.root)
        .load()
    )
    out = tmp_path / "outp"
    q = (
        df.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckptp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["p"], r["id"], r["val"], r["_change_type"])
        for r in spark.read.schema(df.schema).parquet(str(out)).collect()
    }
    assert rows == {
        ("x", 1, "a", "insert"),
        ("y", 2, "b", "insert"),
        ("y", 2, "b", "delete"),
    }


def test_rate_limit_option_refused(spark, tmp_path):
    # a version-window cap cannot be anchored safely across restarts
    # with this API; the option is refused rather than silently broken
    t = LakeTable.create(
        spark,
        str(tmp_path / "rl"),
        df=spark.createDataFrame([Row(id=1, val="a")]),
    )
    register_cdf_stream(spark)
    df = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", t.root)
        .option("maxVersionsPerBatch", 5)
        .load()
    )
    q = (
        df.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "rlck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="maxVersionsPerBatch"):
        q.awaitTermination()


def test_stream_cdf_null_typed_partition_value(spark, tmp_path):
    """A null value in a TYPED (non-string) hive partition column
    (__HIVE_DEFAULT_PARTITION__ directory) must be emitted as a typed
    null, not a string-typed null array — otherwise the Arrow batch
    schema mismatches the declared stream schema."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "cdf_nullpart"),
        df=spark.createDataFrame(
            [Row(id=1, bucket=10), Row(id=2, bucket=None)]
        ).select("id", F.col("bucket").cast("int").alias("bucket")),
        partition_by=["bucket"],
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.update("id = 2", {"id": "20"})  # cdc commit inside the null partition

    out, ckpt = tmp_path / "np_out", tmp_path / "np_ckpt"
    got = _drain(spark, t.root, out, ckpt)
    assert dict(got.dtypes)["bucket"] == "int"
    rows = {
        (r["id"], r["bucket"], r["_change_type"]) for r in got.collect()
    }
    assert (2, None, "update_preimage") in rows
    assert (20, None, "update_postimage") in rows
    assert (1, 10, "insert") in rows
