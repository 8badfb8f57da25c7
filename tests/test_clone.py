"""SHALLOW / DEEP CLONE (beyond the reference repo's surface;
semantics follow Delta's public CLONE DDL): zero-copy snapshots whose
first commit re-adds the source's files, write isolation in both
directions, VACUUM safety, time travel, the CREATE TABLE ... CLONE SQL
grammar, and lineage recording."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.session import session_key
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml


def _data_files(root: str) -> list[str]:
    d = Path(root) / "data"
    return sorted(
        str(p.relative_to(d)) for p in d.rglob("*") if p.is_file()
    ) if d.is_dir() else []


def test_shallow_clone_zero_copy_and_isolation(spark, tmp_path):
    """A shallow clone copies NO data (absolute-path add entries into
    the source), reads identically (stats included), and is write-
    isolated in both directions: DML on the clone copy-on-writes into
    the clone's own directory, DML on the source is invisible to the
    clone, and VACUUM on the clone never reclaims borrowed files."""
    src = LakeTable.create(
        spark,
        str(tmp_path / "src"),
        df=spark.range(200).withColumn("v", F.col("id") * 2),
    )
    c = src.clone(str(tmp_path / "c"), shallow=True)
    assert _data_files(str(tmp_path / "c")) == []  # zero-copy
    assert c.to_df().count() == 200
    # stats-based pruning carried over: a selective read_where scans
    # the clone through the same pruned path without error
    assert c.read_where("id < 5").count() == 5
    # clone mutations land in the CLONE's dir; the source is untouched
    # (id < 47 cuts INSIDE a file so at least one copy-on-write rewrite
    # must happen — a boundary-aligned predicate would drop whole files
    # metadata-only and write nothing)
    c.delete("id < 47")
    assert c.to_df().count() == 153
    assert src.to_df().count() == 200
    assert _data_files(str(tmp_path / "c"))  # rewritten files are local
    # source mutations are invisible to the clone (snapshot semantics)
    src.append(spark.range(200, 300).withColumn("v", F.col("id") * 2))
    assert c.to_df().count() == 153
    # VACUUM on the clone walks only its own data dir: every borrowed
    # (absolute) file survives and the source still reads in full
    c.vacuum(retain_hours=0)
    assert src.to_df().count() == 300
    assert c.to_df().count() == 153
    # history starts at the CLONE commit with source identity
    h = c.history().collect()
    clone_rec = next(r for r in h if r["operation"] == "CLONE")
    params = clone_rec["operationParameters"]  # JSON-stringified
    if isinstance(params, str):
        import json as _json

        params = _json.loads(params)
    assert params.get("sourceTable") == src.root
    assert str(params.get("isShallow")).lower() == "true"


def test_clone_time_travel_and_deep(spark, tmp_path):
    """VERSION AS OF clones snapshot an older version (schema and
    files); DEEP clones copy every live file and survive source
    deletion outright."""
    src = LakeTable.create(
        spark, str(tmp_path / "tsrc"), df=spark.range(100).withColumn(
            "v", F.lit(1)
        )
    )
    src.append(spark.range(100, 150).withColumn("v", F.lit(2)))
    c0 = src.clone(str(tmp_path / "c0"), shallow=True, version=0)
    assert c0.to_df().count() == 100
    deep = src.clone(str(tmp_path / "deep"), shallow=False)
    assert deep.to_df().count() == 150
    assert _data_files(str(tmp_path / "deep"))  # real copies
    # a deep clone owns its bytes: removing the source changes nothing
    import shutil

    shutil.rmtree(str(tmp_path / "tsrc"))
    assert deep.to_df().count() == 150


def test_clone_of_clone(spark, tmp_path):
    """Clones compose: SHALLOW of SHALLOW stays zero-copy (absolute
    entries pass through), and DEEP of SHALLOW relativizes borrowed
    entries into its OWN files — it must survive deletion of both the
    original source and the intermediate clone."""
    src = LakeTable.create(
        spark, str(tmp_path / "osrc"), df=spark.range(80).withColumn(
            "v", F.lit(9)
        )
    )
    s1 = src.clone(str(tmp_path / "s1"), shallow=True)
    s2 = s1.clone(str(tmp_path / "s2"), shallow=True)
    assert _data_files(str(tmp_path / "s2")) == []
    assert s2.to_df().count() == 80
    d2 = s1.clone(str(tmp_path / "d2"), shallow=False)
    assert len(_data_files(str(tmp_path / "d2"))) > 0
    import shutil

    shutil.rmtree(str(tmp_path / "osrc"))
    shutil.rmtree(str(tmp_path / "s1"))
    assert d2.to_df().count() == 80


def test_deep_clone_partitioned_delta(spark, tmp_path):
    """DEEP clone preserves a partitioned Delta table's hive layout
    and partitionValues."""
    src = LakeTable.create(
        spark,
        str(tmp_path / "psrc"),
        df=spark.createDataFrame(
            [(1, "US"), (2, "US"), (3, "DE")], "id long, country string"
        ),
        partition_by=["country"],
    )
    deep = src.clone(str(tmp_path / "pdeep"), shallow=False)
    got = sorted(
        tuple(r) for r in deep.to_df().select("id", "country").collect()
    )
    assert got == [(1, "US"), (2, "US"), (3, "DE")]
    # partition pruning still works on the clone
    assert deep.to_df().filter(F.col("country") == "DE").count() == 1


def test_shallow_clone_partitioned_delta(spark, tmp_path):
    """SHALLOW clone of a PARTITIONED source: zero-copy, each borrowed
    absolute entry resolves against the SOURCE's hive base (no
    cross-root directory discovery), partition-pruned and stats-pruned
    reads work, DML copy-on-writes hive-laid rewrites into the CLONE's
    own directory, VACUUM is isolated in both directions, and a DEEP
    clone of the shallow-partitioned clone owns hive-laid bytes."""
    rows = [(i, "US" if i % 3 else "DE", i * 10) for i in range(90)]
    src = LakeTable.create(
        spark,
        str(tmp_path / "spsrc"),
        df=spark.createDataFrame(
            rows, "id long, country string, amount long"
        ).repartition(4),
        partition_by=["country"],
    )
    c = src.clone(str(tmp_path / "spc"), shallow=True)
    assert _data_files(str(tmp_path / "spc")) == []  # zero-copy
    assert c.to_df().count() == 90
    assert sorted(
        tuple(r) for r in c.to_df().collect()
    ) == sorted(rows)
    # partition-pruned read over borrowed entries
    assert c.to_df().filter(F.col("country") == "DE").count() == 30
    # stats-pruned read path (partitionValues synth stats carried over)
    assert c.read_where("country = 'DE'").count() == 30
    # metadata-only whole-partition DELETE: no data read or copied
    m = c.delete("country = 'DE'")
    assert m["numDeletedRows"] == 30
    assert m["numWholeFilesRemoved"] == m["numRemovedFiles"] > 0
    assert _data_files(str(tmp_path / "spc")) == []  # still zero-copy
    # copy-on-write UPDATE cuts inside files: rewrites land hive-laid
    # in the CLONE's own dir, source untouched
    c.update("id < 10", {"amount": "amount + 1"})
    local = _data_files(str(tmp_path / "spc"))
    assert local and all(f.startswith("country=") for f in local)
    # ids 0..9 remaining after the DE delete: the six US rows
    assert c.to_df().filter("id < 10 AND amount % 10 = 1").count() == 6
    assert src.to_df().count() == 90
    assert src.to_df().filter("amount % 10 = 1").count() == 0
    # clone sees borrowed + local entries together (mixed bases)
    assert c.to_df().count() == 60
    assert c.to_df().filter(F.col("country") == "US").count() == 60
    # VACUUM on the clone never reclaims borrowed files
    c.vacuum(retain_hours=0)
    assert src.to_df().count() == 90
    assert c.to_df().count() == 60
    # deep-of-shallow-partitioned: owns its bytes, hive-laid
    d = c.clone(str(tmp_path / "spd"), shallow=False)
    dl = _data_files(str(tmp_path / "spd"))
    assert dl and all(f.startswith("country=") for f in dl)
    import shutil

    shutil.rmtree(str(tmp_path / "spsrc"))
    shutil.rmtree(str(tmp_path / "spc"))
    assert d.to_df().count() == 60
    assert d.to_df().filter(F.col("country") == "US").count() == 60


def test_clone_of_live_dv_table_and_existing_target(spark, tmp_path):
    """A source with LIVE deletion vectors clones both ways: SHALLOW
    borrows the sidecars by ABSOLUTE `p`-type descriptors (reads see
    alive rows only; the clone's own later DV writes stay clone-local
    and never touch the source's sidecar), DEEP materializes the DV'd
    files' alive rows into clone-owned descriptor-free files; an
    existing target refuses."""
    src = LakeTable.create(
        spark,
        str(tmp_path / "dvsrc"),
        df=spark.range(10).withColumn("v", F.lit(1)).coalesce(1),
        properties={"delta.enableDeletionVectors": "true"},
    )
    m = src.delete("id IN (2, 5)")
    assert m["strategy"] == "dv"
    c = src.clone(str(tmp_path / "dvclone"), shallow=True)
    assert _data_files(str(tmp_path / "dvclone")) == []  # zero-copy
    assert sorted(r["id"] for r in c.to_df().collect()) == [
        0, 1, 3, 4, 6, 7, 8, 9,
    ]
    dv = c._files()[0]["deletionVector"]
    assert dv["storageType"] == "p"
    assert Path(dv["pathOrInlineDv"]).is_absolute()
    # a DV delete ON the clone merges the borrowed bitmap into a
    # CLONE-LOCAL sidecar; the source still reads its own 8 rows
    m2 = c.delete("id = 7")
    assert m2["strategy"] == "dv"
    assert sorted(r["id"] for r in c.to_df().collect()) == [
        0, 1, 3, 4, 6, 8, 9,
    ]
    assert src.to_df().count() == 8
    assert list(Path(c.root).glob("deletion_vector_*.bin"))
    # DEEP materializes: no descriptors survive, bytes are owned
    d = src.clone(str(tmp_path / "dvdeep"), shallow=False)
    assert not any(e.get("deletionVector") for e in d._files())
    import shutil

    shutil.rmtree(str(tmp_path / "dvsrc"))
    assert sorted(r["id"] for r in d.to_df().collect()) == [
        0, 1, 3, 4, 6, 7, 8, 9,
    ]
    ok = LakeTable.create(
        spark, str(tmp_path / "oksrc"), df=spark.range(5)
    )
    ok.clone(str(tmp_path / "okclone"))
    with pytest.raises(ValueError, match="already exists"):
        ok.clone(str(tmp_path / "okclone"))
    # a FOREIGN table at the target (delta log, engine source) must
    # refuse too — a second commit log would fork the directory
    LakeTable.create(
        spark, str(tmp_path / "foreign"), df=spark.range(3),
    )
    with pytest.raises(ValueError, match="already exists"):
        ok.clone(str(tmp_path / "foreign"))


def test_time_travel_clone_carries_snapshot_properties(spark, tmp_path):
    """A VERSION AS OF clone is born with the properties (and
    partitioning) the source had AT that version — a later ALTER's
    feature flags must not leak backwards into an older snapshot."""
    src = LakeTable.create(
        spark, str(tmp_path / "vp"), df=spark.range(10).withColumn(
            "v", F.lit(1)
        )
    )
    run_statement_props = {"engine.flag": "on"}
    src._log.commit(
        src.root, "SET TBLPROPERTIES", [], [],
        src._log.schema_at(src.root),
        properties=run_statement_props,
    )
    assert src.properties().get("engine.flag") == "on"
    c0 = src.clone(str(tmp_path / "vp0"), shallow=True, version=0)
    assert "engine.flag" not in c0.properties()
    c1 = src.clone(str(tmp_path / "vp1"), shallow=True)
    assert c1.properties().get("engine.flag") == "on"


def test_clone_sql_grammar_and_lineage(spark, tmp_path):
    """CREATE TABLE tgt [SHALLOW|DEEP] CLONE src [VERSION AS OF n]
    [LOCATION ...] [TBLPROPERTIES (...)]: bare CLONE defaults DEEP
    (the Databricks default), IF NOT EXISTS no-ops against an existing
    target, properties carry over with statement-level overrides
    winning, and the statement records table lineage plus 1:1 column
    lineage."""
    src = LakeTable.create(
        spark,
        str(tmp_path / "gsrc"),
        df=spark.range(60).withColumn("v", F.col("id") * 3),
        properties={"engine.note": "orig"},
    )
    sqldml.register_table(spark, "cat.gold.gsrc", src)
    sid = session_key(spark)
    try:
        out = run_statement(
            spark,
            f"CREATE TABLE cat.dev.gsnap SHALLOW CLONE cat.gold.gsrc "
            f"LOCATION '{tmp_path / 'gsnap'}' "
            f"TBLPROPERTIES ('engine.note' = 'clone')",
        ).collect()[0]
        assert out["created"] == 1
        assert _data_files(str(tmp_path / "gsnap")) == []
        t = sqldml.resolve_table(spark, "cat.dev.gsnap")
        assert t.to_df().count() == 60
        assert t.properties().get("engine.note") == "clone"
        # table lineage + 1:1 column lineage recorded
        rows = run_statement(
            spark,
            "SELECT source_table_full_name AS s, "
            "target_table_full_name AS t "
            "FROM system.lineage.table_lineage "
            "WHERE target_table_full_name = 'cat.dev.gsnap'",
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("cat.gold.gsrc", "cat.dev.gsnap")
        ]
        cl = run_statement(
            spark,
            "SELECT source_column_name AS s, target_column_name AS t "
            "FROM system.lineage.column_lineage "
            "WHERE target_table_full_name = 'cat.dev.gsnap' ORDER BY 1",
        ).collect()
        assert [tuple(r) for r in cl] == [("id", "id"), ("v", "v")]
        # bare CLONE = DEEP; VERSION AS OF snapshots the old version
        src.append(spark.range(60, 80).withColumn("v", F.col("id") * 3))
        run_statement(
            spark,
            f"CREATE TABLE cat.dev.gsnap0 CLONE cat.gold.gsrc "
            f"VERSION AS OF 0 LOCATION '{tmp_path / 'gsnap0'}'",
        )
        t0 = sqldml.resolve_table(spark, "cat.dev.gsnap0")
        assert t0.to_df().count() == 60
        assert _data_files(str(tmp_path / "gsnap0"))  # deep: real files
        # TIMESTAMP AS OF resolves through the commit-time index the
        # same way time-travel reads do (a timestamp far in the future
        # lands on the latest version)
        run_statement(
            spark,
            f"CREATE TABLE cat.dev.gsnapts SHALLOW CLONE cat.gold.gsrc "
            f"TIMESTAMP AS OF '2099-01-01T00:00:00' "
            f"LOCATION '{tmp_path / 'gsnapts'}'",
        )
        assert (
            sqldml.resolve_table(spark, "cat.dev.gsnapts").to_df().count()
            == 80
        )
        # IF NOT EXISTS no-ops and re-registers
        again = run_statement(
            spark,
            f"CREATE TABLE IF NOT EXISTS cat.dev.gsnap SHALLOW CLONE "
            f"cat.gold.gsrc LOCATION '{tmp_path / 'gsnap'}'",
        ).collect()[0]
        assert again["created"] == 0
        # plain CREATE against the existing clone refuses
        with pytest.raises(ValueError, match="already exists"):
            run_statement(
                spark,
                f"CREATE TABLE cat.dev.gsnap SHALLOW CLONE "
                f"cat.gold.gsrc LOCATION '{tmp_path / 'gsnap'}'",
            )
        # OR REPLACE into the SOURCE's own location would rmtree the
        # source before the clone reads it: refused up front
        with pytest.raises(ValueError, match="source's own location"):
            run_statement(
                spark,
                f"CREATE OR REPLACE TABLE cat.dev.oops SHALLOW CLONE "
                f"cat.gold.gsrc LOCATION '{tmp_path / 'gsrc'}'",
            )
    finally:
        for nm in (
            "cat.gold.gsrc", "cat.dev.gsnap", "cat.dev.gsnap0",
            "cat.dev.gsnapts",
        ):
            sqldml._REGISTRY.pop((sid, nm), None)
