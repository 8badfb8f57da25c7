"""External-table CDF for UPDATE/DELETE commits: a Delta table with
``delta.enableChangeDataFeed=true`` records row-level changes as
``cdc`` actions pointing at ``_change_data`` parquet. Per the CDF
protocol, a version carrying cdc actions serves its changes
EXCLUSIVELY from those files — so foreign rewrite commits no longer
refuse when the writer materialized CDC. Commits without cdc actions
keep the old contract (append -> synthesized inserts; rewrite ->
loud refusal).
"""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from databricks_delta_lake_project_spark.governance.sharing import (
    ShareProvider,
    SharingClient,
)
from databricks_delta_lake_project_spark.tables import (
    DeltaInteropTable,
    LakeTable,
)

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "val", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _pq(path: Path, ids, vals, change_types=None):
    cols = {"id": pa.array(ids, pa.int64()), "val": pa.array(vals, pa.string())}
    if change_types is not None:
        cols["_change_type"] = pa.array(change_types, pa.string())
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _commit(log: Path, v: int, actions):
    log.mkdir(parents=True, exist_ok=True)
    (log / f"{v:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions) + "\n"
    )


def _add(path, size=1):
    return {
        "add": {
            "path": path,
            "partitionValues": {},
            "size": size,
            "modificationTime": 1,
            "dataChange": True,
        }
    }


def _remove(path):
    return {"remove": {"path": path, "deletionTimestamp": 2, "dataChange": True}}


def _cdc(path):
    return {
        "cdc": {
            "path": path,
            "partitionValues": {},
            "size": 1,
            "dataChange": False,
        }
    }


@pytest.fixture()
def cdf_table(tmp_path):
    """Foreign CDF-enabled Delta table: insert v0, UPDATE v1 (cdc pre/
    post images), DELETE v2 (cdc delete rows), plain append v3."""
    root = tmp_path / "ext_cdf"
    _pq(root / "f0.parquet", [1, 2, 3], ["a", "b", "c"])
    _pq(root / "f1.parquet", [1, 2, 3], ["a", "B!", "c"])
    _pq(root / "f2.parquet", [2, 3], ["B!", "c"])
    _pq(root / "f3.parquet", [4], ["d"])
    _pq(
        root / "_change_data/cdc-0.parquet",
        [2, 2],
        ["b", "B!"],
        ["update_preimage", "update_postimage"],
    )
    _pq(root / "_change_data/cdc-1.parquet", [1], ["a"], ["delete"])
    log = root / "_delta_log"
    _commit(
        log,
        0,
        [
            {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {
                "metaData": {
                    "id": "cdf-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": SCHEMA_JSON,
                    "partitionColumns": [],
                    "configuration": {"delta.enableChangeDataFeed": "true"},
                }
            },
            _add("f0.parquet"),
        ],
    )
    _commit(
        log,
        1,
        [
            {"commitInfo": {"timestamp": 2, "operation": "UPDATE"}},
            _remove("f0.parquet"),
            _add("f1.parquet"),
            _cdc("_change_data/cdc-0.parquet"),
        ],
    )
    _commit(
        log,
        2,
        [
            {"commitInfo": {"timestamp": 3, "operation": "DELETE"}},
            _remove("f1.parquet"),
            _add("f2.parquet"),
            _cdc("_change_data/cdc-1.parquet"),
        ],
    )
    _commit(
        log,
        3,
        [
            {"commitInfo": {"timestamp": 4, "operation": "WRITE"}},
            _add("f3.parquet"),
        ],
    )
    return root


EXPECT_ALL = {
    (1, "a", "insert", 0),
    (2, "b", "insert", 0),
    (3, "c", "insert", 0),
    (2, "b", "update_preimage", 1),
    (2, "B!", "update_postimage", 1),
    (1, "a", "delete", 2),
    (4, "d", "insert", 3),
}


def _tuples(df):
    return {
        (r["id"], r["val"], r["_change_type"], r["_commit_version"])
        for r in df.collect()
    }


def test_interop_cdf_serves_cdc_actions(spark, cdf_table):
    it = DeltaInteropTable(spark, str(cdf_table))
    assert _tuples(it.read_changes(0)) == EXPECT_ALL
    # range filters apply per commit
    assert _tuples(it.read_changes(2)) == {
        t for t in EXPECT_ALL if t[3] >= 2
    }
    assert _tuples(it.read_changes(1, ending_version=1)) == {
        t for t in EXPECT_ALL if t[3] == 1
    }
    # snapshot read unaffected: final state only
    assert {(r["id"], r["val"]) for r in it.to_df().collect()} == {
        (2, "B!"), (3, "c"), (4, "d"),
    }


def test_laketable_cdf_serves_cdc_actions(spark, cdf_table):
    # writable external tables route through LakeTable.read_changes —
    # same contract
    t = LakeTable.for_path(spark, str(cdf_table))
    assert isinstance(t, LakeTable)
    assert _tuples(t.read_changes(starting_version=0)) == EXPECT_ALL


def test_rewrite_without_cdc_still_refuses(spark, tmp_path):
    root = tmp_path / "no_cdf"
    _pq(root / "f0.parquet", [1], ["a"])
    _pq(root / "f1.parquet", [1], ["A"])
    log = root / "_delta_log"
    _commit(
        log,
        0,
        [
            {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "no-cdf",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": SCHEMA_JSON,
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
            _add("f0.parquet"),
        ],
    )
    _commit(
        log,
        1,
        [
            {"commitInfo": {"timestamp": 2, "operation": "UPDATE"}},
            _remove("f0.parquet"),
            _add("f1.parquet"),
        ],
    )
    it = DeltaInteropTable(spark, str(root))
    with pytest.raises(NotImplementedError, match="without cdc actions"):
        it.read_changes(0).collect()


def test_shared_cdf_update_delete_passthrough(spark, cdf_table, tmp_path):
    provider = ShareProvider(str(tmp_path / "shares_root"))
    provider.create_share("ext_share")
    provider.add_table("ext_share", str(cdf_table), "external.cdf_table")
    profile = str(tmp_path / "cdf.share")
    provider.create_recipient("partner", profile)
    provider.grant("ext_share", "partner")
    client = SharingClient(profile)
    cdf = client.load_cdf(spark, "ext_share.external.cdf_table")
    assert _tuples(cdf) == EXPECT_ALL
    since = client.load_cdf(
        spark, "ext_share.external.cdf_table", starting_version=2
    )
    assert _tuples(since) == {t for t in EXPECT_ALL if t[3] >= 2}


def test_engine_dml_writes_protocol_cdc(spark, tmp_path):
    """Write side: the engine's own Delta-format DML must land cdc
    actions + _change_data files when CDF is on, so EXTERNAL Delta
    readers (modeled by DeltaInteropTable's independent replay) serve
    exact update/delete/merge changes instead of refusing."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "engine_cdf"),
        df=spark.createDataFrame(
            [Row(id=1, val="a"), Row(id=2, val="b"), Row(id=3, val="c")]
        ),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.update("id = 2", {"val": "'B!'"})                      # v1
    t.delete("id = 1")                                        # v2
    (
        t.merge(
            spark.createDataFrame([Row(id=3, val="C!"), Row(id=4, val="d")]),
            "t.id = s.id",
        )
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )                                                         # v3

    # protocol level: each DML commit carries cdc actions
    for v in (1, 2, 3):
        c = t._log.read_commit(t.root, v)
        assert c["cdc"], f"version {v} has no cdc actions"
        assert all(a["path"].startswith("_change_data/") for a in c["cdc"])

    # independent replay reader serves the full change history
    it = DeltaInteropTable(spark, str(tmp_path / "engine_cdf"))
    got = {
        (r["id"], r["val"], r["_change_type"], r["_commit_version"])
        for r in it.read_changes(0).collect()
    }
    assert got == {
        (1, "a", "insert", 0),
        (2, "b", "insert", 0),
        (3, "c", "insert", 0),
        (2, "b", "update_preimage", 1),
        (2, "B!", "update_postimage", 1),
        (1, "a", "delete", 2),
        (3, "c", "update_preimage", 3),
        (3, "C!", "update_postimage", 3),
        (4, "d", "insert", 3),
    }
    # engine's own reader agrees (reads the _changes/ tail for its own
    # commits)
    own = {
        (r["id"], r["val"], r["_change_type"], r["_commit_version"])
        for r in t.read_changes(0).collect()
    }
    assert own == got


def test_engine_partitioned_dml_protocol_cdc(spark, tmp_path):
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "engine_cdf_part"),
        df=spark.createDataFrame(
            [Row(p="x", id=1), Row(p="x", id=2), Row(p="y", id=3)]
        ),
        partition_by=["p"],
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.delete("id = 2")
    c = t._log.read_commit(t.root, 1)
    assert c["cdc"] and all(
        a["partitionValues"] == {"p": "x"} for a in c["cdc"]
    )
    it = DeltaInteropTable(spark, str(tmp_path / "engine_cdf_part"))
    dels = [
        (r["p"], r["id"])
        for r in it.read_changes(1).filter("_change_type = 'delete'").collect()
    ]
    assert dels == [("x", 2)]


def test_table_changes_sql_tvf(spark, tmp_path):
    """``SELECT ... FROM table_changes('t', start [, end])`` — the
    Databricks SQL CDF reader — rewrites to a statement-scoped view
    over read_changes, adds ``_commit_timestamp`` from the commit log,
    and honors version AND timestamp bounds."""
    from pyspark.sql import Row

    from databricks_delta_lake_project_spark.queries.sqlpack import (
        run_statement,
    )
    from databricks_delta_lake_project_spark.tables import sqldml

    t = LakeTable.create(
        spark,
        str(tmp_path / "tc_sql"),
        df=spark.createDataFrame([Row(id=1, val="a"), Row(id=2, val="b")]),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    sqldml.register_table(spark, "tc_sql", t)
    t.update("id = 2", {"val": "'B!'"})  # v1
    t.delete("id = 1")  # v2

    out = run_statement(
        spark,
        "SELECT id, val, _change_type, _commit_version "
        "FROM table_changes('tc_sql', 1) ORDER BY _commit_version, id",
    )
    assert {tuple(r) for r in out.collect()} == {
        (2, "b", "update_preimage", 1),
        (2, "B!", "update_postimage", 1),
        (1, "a", "delete", 2),
    }

    # end bound scopes the range; _commit_timestamp matches the log
    one = run_statement(
        spark, "SELECT * FROM table_changes('tc_sql', 2, 2)"
    ).collect()
    assert [(r["id"], r["_change_type"]) for r in one] == [(1, "delete")]
    ts_ms = {
        c["version"]: c["timestamp_ms"] for c in t._log.read_log(t.root)
    }
    got_ms = int(one[0]["_commit_timestamp"].timestamp() * 1000)
    assert got_ms == ts_ms[2]

    # timestamp bounds: start >= v1's instant excludes v0's inserts
    from datetime import datetime, timezone

    start_iso = (
        datetime.fromtimestamp(ts_ms[1] / 1000, tz=timezone.utc)
        .strftime("%Y-%m-%d %H:%M:%S.%f")
    )
    by_ts = run_statement(
        spark,
        f"SELECT _commit_version FROM table_changes('tc_sql', "
        f"'{start_iso}+00:00')",
    )
    assert {r[0] for r in by_ts.collect()} == {1, 2}

    # the statement-scoped view is dropped afterwards; a string
    # literal containing the call shape is untouched
    assert not [
        v for v in spark.catalog.listTables() if v.name.startswith("engine_tc_")
    ]
    lit = run_statement(
        spark, "SELECT 'use table_changes(''x'', 1) here' AS s"
    ).collect()
    assert "table_changes" in lit[0]["s"]


def test_table_changes_sql_unknown_table_and_arity(spark):
    import pytest as _pytest

    from databricks_delta_lake_project_spark.queries.sqlpack import (
        run_statement,
    )

    with _pytest.raises(ValueError):
        run_statement(
            spark, "SELECT * FROM table_changes('no_such_tbl_xyz', 0)"
        )
    with _pytest.raises(ValueError, match="expects"):
        run_statement(spark, "SELECT * FROM table_changes('x')")


def test_tc_bound_skips_none_timestamps():
    """Foreign commits may lack commitInfo (timestamp_ms None, which
    the protocol allows) — timestamp bounds must skip them, not crash."""
    from databricks_delta_lake_project_spark.queries.sqlpack import _tc_bound

    class _Log:
        def read_log(self, root):
            return [
                {"version": 0, "timestamp_ms": 1_000},
                {"version": 1, "timestamp_ms": None},
                {"version": 2, "timestamp_ms": 3_000},
            ]

        def version_at_timestamp(self, root, ts_ms):
            best = None
            for c in self.read_log(root):
                ts = c["timestamp_ms"]
                if ts is not None and ts <= ts_ms:
                    best = c["version"]
            if best is None:
                raise ValueError("no commit at or before")
            return best

    class _T:
        root = "/x"
        _log = _Log()

    t = _T()
    iso = "'1970-01-01 00:00:02+00:00'"  # 2000 ms epoch
    assert _tc_bound(t, iso, start=True) == 2
    assert _tc_bound(t, iso, start=False) == 0
    with pytest.raises(ValueError, match="at or after"):
        _tc_bound(t, "'1970-01-01 00:00:04+00:00'", start=True)
    with pytest.raises(ValueError, match="table_changes"):
        _tc_bound(t, "'1969-12-31 00:00:00+00:00'", start=False)


def test_table_changes_in_dml_source(spark, tmp_path):
    """table_changes(...) resolves in DML SOURCE positions too —
    INSERT ... SELECT over the feed is the canonical CDC-apply shape."""
    from pyspark.sql import Row

    from databricks_delta_lake_project_spark.queries.sqlpack import (
        run_statement,
    )
    from databricks_delta_lake_project_spark.tables import sqldml

    src = LakeTable.create(
        spark,
        str(tmp_path / "tc_src"),
        df=spark.createDataFrame([Row(id=1, val="a")]),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    sqldml.register_table(spark, "tc_src", src)
    src.delete("id = 1")  # v1

    tgt = LakeTable.create(
        spark,
        str(tmp_path / "tc_tgt"),
        df=spark.createDataFrame(
            [], "id long, val string, _change_type string"
        ),
    )
    sqldml.register_table(spark, "tc_tgt", tgt)
    run_statement(
        spark,
        "INSERT INTO tc_tgt SELECT id, val, _change_type "
        "FROM table_changes('tc_src', 1)",
    )
    assert [
        (r["id"], r["_change_type"]) for r in tgt.to_df().collect()
    ] == [(1, "delete")]
    # the statement-scoped view dropped after the DML too
    assert not [
        v for v in spark.catalog.listTables() if v.name.startswith("engine_tc_")
    ]
