"""Catalog-registry concurrency: the persist loop's bounded OCC retry
(same discipline as the grants registry) — a rival session's commit
landing between our read and write must retry the read-merge-write,
composing both sessions' mutations instead of losing one."""

from __future__ import annotations

import pytest

from databricks_delta_lake_project_spark.governance import (
    catalog_registry as creg,
)
from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.session import session_key
from databricks_delta_lake_project_spark.tables import LakeTable, metasql


def test_occ_loser_retries_and_composes(spark, tmp_path, monkeypatch):
    """First overwrite attempt loses the commit race (simulated);
    the retry re-reads the rival's rows and lands BOTH sessions'
    catalogs."""
    from databricks_delta_lake_project_spark.tables.delta_log import (
        ConcurrentModificationError,
    )

    path = str(tmp_path / "catreg")
    spark.conf.set(creg.PATH_CONF, path)
    try:
        run_statement(spark, "CREATE CATALOG occ_base")

        real_overwrite = LakeTable.overwrite
        state = {"raced": False}

        def losing_overwrite(self, df, *a, **kw):
            if not state["raced"]:
                state["raced"] = True
                # simulate the rival: ITS commit (carrying occ_rival)
                # lands via the real path, then OUR attempt reports
                # the lost race — the retry must re-read and compose
                merged = df.sparkSession.createDataFrame(
                    [tuple(r) for r in df.collect()]
                    + [("catalog", "occ_rival", "{}")],
                    creg._SCHEMA,
                )
                real_overwrite.__get__(self)(merged)
                raise ConcurrentModificationError("simulated rival commit")
            return real_overwrite.__get__(self)(df, *a, **kw)

        monkeypatch.setattr(LakeTable, "overwrite", losing_overwrite)
        run_statement(spark, "CREATE CATALOG occ_mine")
        monkeypatch.setattr(LakeTable, "overwrite", real_overwrite)

        assert state["raced"]
        # journal cleared only on the successful attempt
        sid = session_key(spark)
        assert not creg._ADDS.get(sid) and not creg._DELS.get(sid)
        # fresh session sees base + rival + mine: nothing lost
        metasql._NAMESPACES.pop(sid, None)
        creg._LOADED.clear()
        cats = metasql.declared_namespaces(spark, "catalog")
        assert {"occ_base", "occ_rival", "occ_mine"} <= set(cats)
    finally:
        spark.conf.unset(creg.PATH_CONF)


def test_rival_commit_between_read_and_write_retries(
    spark, tmp_path, monkeypatch
):
    """The read→pin window: a rival commit landing AFTER the persist
    loop's merge-read but BEFORE the overwrite must force the OCC
    retry (the overwrite is pinned to the merge-read's version), not
    be silently overwritten — the rival's rows survive."""
    path = str(tmp_path / "catreg")
    spark.conf.set(creg.PATH_CONF, path)
    try:
        run_statement(spark, "CREATE CATALOG win_base")

        real_read = creg._disk_rows_versioned
        state = {"raced": False}

        def racing_read(s, p):
            rows, ver = real_read(s, p)
            if not state["raced"] and ver is not None:
                state["raced"] = True
                # the rival lands AFTER our merge-read: a real,
                # unpinned commit appending its own catalog row
                rival = s.createDataFrame(
                    [tuple(r[c] for c in creg._COLS) for r in rows]
                    + [("catalog", "win_rival", "{}")],
                    creg._SCHEMA,
                )
                LakeTable.for_path(s, p).overwrite(rival)
            return rows, ver

        monkeypatch.setattr(creg, "_disk_rows_versioned", racing_read)
        run_statement(spark, "CREATE CATALOG win_mine")
        monkeypatch.undo()

        assert state["raced"]
        # fresh session sees base + rival + mine: the rival's commit
        # inside the window was NOT lost
        sid = session_key(spark)
        metasql._NAMESPACES.pop(sid, None)
        creg._LOADED.clear()
        cats = metasql.declared_namespaces(spark, "catalog")
        assert {"win_base", "win_rival", "win_mine"} <= set(cats)
    finally:
        spark.conf.unset(creg.PATH_CONF)


def test_grants_rival_commit_between_read_and_write_retries(
    spark, tmp_path, monkeypatch
):
    """Same read→pin window for the durable GRANTS registry: a rival
    grant committed between _persist_grants' merge-read and its
    overwrite survives via the pinned-version retry."""
    from databricks_delta_lake_project_spark.governance import (
        access_control as acl,
    )

    path = str(tmp_path / "acl_registry")
    spark.conf.set(acl.PATH_CONF, path)
    try:
        acl.grant(spark, "USAGE", "CATALOG", "wcat", "team")

        real_read = acl._disk_grant_rows
        state = {"raced": False}

        def racing_read(s, p):
            rows, ver = real_read(s, p)
            if not state["raced"] and ver is not None:
                state["raced"] = True
                rival = s.createDataFrame(
                    [tuple(e[c] for c in acl._GRANT_COLS) for e in rows]
                    + [("SELECT", "SCHEMA", "wcat.rival", "rteam")],
                    acl._GRANT_SCHEMA,
                )
                LakeTable.for_path(s, p).overwrite(rival)
            return rows, ver

        monkeypatch.setattr(acl, "_disk_grant_rows", racing_read)
        acl.grant(spark, "SELECT", "SCHEMA", "wcat.mine", "team")
        monkeypatch.undo()

        assert state["raced"]
        # fresh session: all three grants present — the rival's row
        # committed inside the window was not lost
        acl._GRANTS.clear()
        acl._LOADED.clear()
        rows = {
            (r["securable"], r["principal"])
            for r in acl.show_grants(spark).collect()
        }
        assert {
            ("wcat", "team"),
            ("wcat.rival", "rteam"),
            ("wcat.mine", "team"),
        } <= rows
    finally:
        spark.conf.unset(acl.PATH_CONF)
        acl._GRANTS.clear()
        acl._LOADED.clear()


def test_five_straight_losses_surface(spark, tmp_path, monkeypatch):
    """A persist that loses five times raises instead of silently
    dropping the mutation; the journal survives for the next flush."""
    from databricks_delta_lake_project_spark.tables.delta_log import (
        ConcurrentModificationError,
    )

    path = str(tmp_path / "catreg")
    spark.conf.set(creg.PATH_CONF, path)
    try:
        run_statement(spark, "CREATE CATALOG pre_loss")  # table exists

        def always_losing(self, df, *a, **kw):
            raise ConcurrentModificationError("permanent rival")

        monkeypatch.setattr(LakeTable, "overwrite", always_losing)
        with pytest.raises(ConcurrentModificationError):
            run_statement(spark, "CREATE CATALOG never_lands")
        monkeypatch.undo()
        sid = session_key(spark)
        # the add journal kept the row: the NEXT mutation flushes it
        assert ("catalog", "never_lands") in creg._ADDS.get(sid, {})
        run_statement(spark, "CREATE CATALOG second_try")
        metasql._NAMESPACES.pop(sid, None)
        creg._LOADED.clear()
        cats = metasql.declared_namespaces(spark, "catalog")
        assert {"pre_loss", "never_lands", "second_try"} <= set(cats)
    finally:
        spark.conf.unset(creg.PATH_CONF)
