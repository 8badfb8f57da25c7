"""GRANT / REVOKE / SHOW GRANTS + hierarchical enforcement (X10
extension; reference governance/access_control.py:30-100): the
three-level namespace, downward inheritance, the USAGE two-key rule,
and opt-in statement-boundary enforcement."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from databricks_delta_lake_project_spark.functions.masking import (
    GROUPS_CONF_KEY,
)
from databricks_delta_lake_project_spark.governance import access_control as acl
from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml


@pytest.fixture()
def acl_world(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "gold_c360"),
        df=spark.createDataFrame([Row(id=1, v=10), Row(id=2, v=20)]),
    )
    sqldml.register_table(spark, "cat.gold.c360", t)
    spark.conf.set(acl.ENABLED_CONF, "true")
    spark.conf.set(acl.PRINCIPAL_CONF, "alice")
    spark.conf.set(GROUPS_CONF_KEY, "analytics_team")
    # alice administers grants (SQL GRANT/REVOKE is gated while
    # enforcement is on — see test_grant_is_not_self_escalatable)
    spark.conf.set(acl.ADMINS_CONF, "alice")
    yield t
    spark.conf.set(acl.ENABLED_CONF, "false")
    spark.conf.unset(acl.PRINCIPAL_CONF)
    spark.conf.unset(GROUPS_CONF_KEY)
    spark.conf.unset(acl.ADMINS_CONF)
    acl._GRANTS.clear()


def test_grant_show_revoke_statements(spark, acl_world):
    run_statement(
        spark, "GRANT USAGE ON CATALOG cat TO `analytics_team`"
    )
    run_statement(
        spark, "GRANT USAGE ON SCHEMA cat.gold TO `analytics_team`"
    )
    out = run_statement(
        spark, "GRANT SELECT ON SCHEMA cat.gold TO `analytics_team`"
    ).collect()
    assert ("analytics_team", "SELECT", "SCHEMA", "cat.gold") in {
        tuple(r) for r in out
    }
    allg = run_statement(spark, "SHOW GRANTS").collect()
    assert len(allg) == 3
    on_schema = run_statement(spark, "SHOW GRANTS ON SCHEMA cat.gold").collect()
    assert len(on_schema) == 2
    n = run_statement(
        spark, "REVOKE SELECT ON SCHEMA cat.gold FROM `analytics_team`"
    ).collect()[0]["revoked"]
    assert n == 1
    assert len(run_statement(spark, "SHOW GRANTS").collect()) == 2


def test_hierarchical_select_enforcement(spark, acl_world):
    # no grants: SELECT over the registered table refused
    with pytest.raises(PermissionError, match="SELECT"):
        run_statement(spark, "SELECT * FROM c360")
    # schema-level SELECT alone is NOT enough: USAGE on ancestors needed
    run_statement(spark, "GRANT SELECT ON SCHEMA cat.gold TO analytics_team")
    with pytest.raises(PermissionError):
        run_statement(spark, "SELECT * FROM c360")
    run_statement(spark, "GRANT USAGE ON CATALOG cat TO analytics_team")
    run_statement(spark, "GRANT USAGE ON SCHEMA cat.gold TO analytics_team")
    # the reference team-setup shape now authorizes reads...
    assert run_statement(spark, "SELECT count(*) AS n FROM c360").collect()[
        0
    ]["n"] == 2
    # ...but not writes
    with pytest.raises(PermissionError, match="MODIFY"):
        run_statement(spark, "DELETE FROM c360 WHERE id = 1")
    # catalog-level ALL PRIVILEGES opens everything (data_engineering_team)
    spark.conf.set(GROUPS_CONF_KEY, "data_engineering_team")
    run_statement(
        spark, "GRANT ALL PRIVILEGES ON CATALOG cat TO data_engineering_team"
    )
    out = run_statement(spark, "DELETE FROM c360 WHERE id = 1").collect()[0]
    assert out["numDeletedRows"] == 1


def test_enforcement_off_by_default(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "open_t"),
        df=spark.createDataFrame([Row(id=1)]),
    )
    sqldml.register_table(spark, "open_t", t)
    # accessControl.enabled is false: no grants required
    assert (
        run_statement(spark, "SELECT count(*) AS n FROM open_t").collect()[0][
            "n"
        ]
        == 1
    )


def test_is_authorized_inheritance_unit(spark, acl_world):
    acl.grant(spark, "SELECT", "CATALOG", "cat", "alice")
    # catalog-level SELECT inherits down, and a bare catalog has no
    # ancestors to need USAGE on — but the table's chain does
    assert not acl.is_authorized(spark, "SELECT", "cat.gold.c360")
    acl.grant(spark, "USAGE", "CATALOG", "cat", "alice")
    # USAGE on the catalog also satisfies USAGE for the schema level
    assert acl.is_authorized(spark, "SELECT", "cat.gold.c360")
    assert not acl.is_authorized(spark, "MODIFY", "cat.gold.c360")


def test_grant_on_short_table_name_matches_registered(spark, acl_world):
    """GRANT ... ON TABLE c360 (the name the DML uses) must authorize
    the registered full securable, not record a dead grant."""
    run_statement(spark, "GRANT USAGE ON CATALOG cat TO analytics_team")
    run_statement(spark, "GRANT USAGE ON SCHEMA cat.gold TO analytics_team")
    run_statement(spark, "GRANT MODIFY ON TABLE c360 TO analytics_team")
    g = run_statement(spark, "SHOW GRANTS ON TABLE c360").collect()
    assert {r["securable"] for r in g} == {"cat.gold.c360"}
    out = run_statement(spark, "DELETE FROM c360 WHERE id = 2").collect()[0]
    assert out["numDeletedRows"] == 1
    # revoke with the WRONG securable type must not remove it
    assert (
        run_statement(
            spark, "REVOKE MODIFY ON SCHEMA c360 FROM analytics_team"
        ).collect()[0]["revoked"]
        == 0
    )
    assert (
        run_statement(
            spark, "REVOKE MODIFY ON TABLE c360 FROM analytics_team"
        ).collect()[0]["revoked"]
        == 1
    )


def test_string_literal_does_not_trigger_select_check(spark, acl_world, tmp_path):
    """referenced_tables anchors on FROM/JOIN/USING outside quotes: a
    string literal or column alias matching a registered table name
    must not cause a spurious PermissionError."""
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "open_events"),
        df=spark.createDataFrame([Row(e=1)]),
    )
    sqldml.register_table(spark, "cat.gold.events_t", t2)
    for stmt in (
        "GRANT USAGE ON CATALOG cat TO analytics_team",
        "GRANT USAGE ON SCHEMA cat.gold TO analytics_team",
        "GRANT SELECT ON TABLE events_t TO analytics_team",
    ):
        run_statement(spark, stmt)
    # 'c360' appears only as a string literal — no SELECT grant on it
    out = run_statement(
        spark, "SELECT 'c360' AS label, count(*) AS n FROM events_t"
    ).collect()[0]
    assert (out["label"], out["n"]) == ("c360", 1)


def test_metadata_verbs_and_create_enforced(spark, acl_world):
    """DESCRIBE/SHOW TBLPROPERTIES/ANALYZE/DESCRIBE HISTORY honor the
    ACL; CREATE TABLE requires CREATE on the parent namespace."""
    with pytest.raises(PermissionError, match="SELECT"):
        run_statement(spark, "DESCRIBE c360")
    with pytest.raises(PermissionError, match="SELECT"):
        run_statement(spark, "SHOW TBLPROPERTIES c360")
    with pytest.raises(PermissionError, match="SELECT"):
        run_statement(spark, "DESCRIBE HISTORY c360")
    with pytest.raises(PermissionError, match="MODIFY"):
        run_statement(spark, "ANALYZE TABLE c360 COMPUTE STATISTICS")
    with pytest.raises(PermissionError, match="CREATE"):
        run_statement(
            spark, "CREATE TABLE cat.gold.newt (id BIGINT) USING DELTA"
        )
    run_statement(spark, "GRANT USAGE ON CATALOG cat TO analytics_team")
    run_statement(spark, "GRANT USAGE ON SCHEMA cat.gold TO analytics_team")
    run_statement(spark, "GRANT SELECT ON SCHEMA cat.gold TO analytics_team")
    assert run_statement(spark, "DESCRIBE c360").collect()
    assert run_statement(spark, "DESCRIBE HISTORY c360").collect() is not None


def test_comma_join_and_subquery_enforced_fail_closed(spark, acl_world, tmp_path):
    """The reference scan is fail-closed: comma joins and DESCRIBE
    HISTORY subqueries require the SELECT grant too."""
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "other_t"),
        df=spark.createDataFrame([Row(o=1)]),
    )
    sqldml.register_table(spark, "cat.gold.other_t", t2)
    for stmt in (
        "GRANT USAGE ON CATALOG cat TO analytics_team",
        "GRANT USAGE ON SCHEMA cat.gold TO analytics_team",
        "GRANT SELECT ON TABLE other_t TO analytics_team",
    ):
        run_statement(spark, stmt)
    # comma join pulls in c360, which has no SELECT grant
    with pytest.raises(PermissionError, match="c360"):
        run_statement(spark, "SELECT * FROM other_t, c360")
    run_statement(spark, "GRANT SELECT ON TABLE c360 TO analytics_team")
    assert run_statement(spark, "SELECT count(*) AS n FROM other_t, c360")


def test_grant_ambiguous_suffix_raises(spark, acl_world, tmp_path):
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "c360_dup"),
        df=spark.createDataFrame([Row(x=1)]),
    )
    sqldml.register_table(spark, "other.schema.c360", t2)
    try:
        with pytest.raises(ValueError, match="ambiguous"):
            run_statement(spark, "GRANT SELECT ON TABLE c360 TO alice")
    finally:
        from databricks_delta_lake_project_spark.tables.sqldml import _skey
        sqldml._REGISTRY.pop(_skey(spark, "other.schema.c360"), None)


def test_convert_path_target_skips_namespace_check(spark, acl_world, tmp_path):
    """CONVERT TO DELTA parquet.`/path` is a storage-boundary write —
    it must not demand CREATE on the bogus 'parquet' namespace."""
    src = tmp_path / "raw_pq"
    spark.createDataFrame([Row(a=1)]).write.parquet(str(src))
    out = run_statement(spark, f"CONVERT TO DELTA parquet.`{src}`")
    assert out.collect()[0]["numConvertedFiles"] >= 1


def test_reference_rls_view_flow_end_to_end(spark, acl_world, tmp_path):
    """The reference's row-level-security pattern verbatim
    (governance/access_control.py:75-97): a dynamic view gating rows on
    IS_ACCOUNT_GROUP_MEMBER, then GRANT SELECT ON VIEW — regional
    managers see only their region, admins see everything, and the
    grant is on the VIEW, not the underlying table."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "cust_rls"),
        df=spark.createDataFrame(
            [
                Row(customer_id=1, state="NY"),
                Row(customer_id=2, state="CA"),
                Row(customer_id=3, state="TX"),
            ]
        ),
    )
    sqldml.register_table(spark, "cat.gold.cust_rls", t)
    sqldml.sync_views(spark)
    # the view CREATOR needs SELECT on the base table (UC semantics:
    # enforcement fires on the CREATE VIEW statement's reference too)
    run_statement(spark, "GRANT USAGE ON CATALOG cat TO analytics_team")
    run_statement(spark, "GRANT USAGE ON SCHEMA cat.gold TO analytics_team")
    run_statement(spark, "GRANT SELECT ON TABLE cust_rls TO analytics_team")
    # register the engine_is_group_member UDF the dialect rewrite
    # targets (normally done once by register_views)
    from databricks_delta_lake_project_spark.queries.sqlpack import (
        register_views,
    )

    register_views(spark, "/root/testdata/sf0.001")
    run_statement(
        spark,
        """CREATE OR REPLACE TEMPORARY VIEW regional_customers AS
           SELECT * FROM cust_rls
           WHERE IS_ACCOUNT_GROUP_MEMBER('admin_group')
              OR (IS_ACCOUNT_GROUP_MEMBER('region_east') AND state IN ('NY'))
              OR (IS_ACCOUNT_GROUP_MEMBER('region_west') AND state IN ('CA'))""",
    )
    run_statement(
        spark, "GRANT SELECT ON VIEW regional_customers TO regional_managers"
    )

    def rows_for(groups):
        spark.conf.set(GROUPS_CONF_KEY, groups)
        # re-register the membership UDF for the new group snapshot
        register_views(spark, "/root/testdata/sf0.001")
        return {
            r["state"]
            for r in run_statement(
                spark, "SELECT state FROM regional_customers"
            ).collect()
        }

    assert rows_for("analytics_team,region_east") == {"NY"}
    assert rows_for("analytics_team,region_west") == {"CA"}
    assert rows_for("analytics_team,admin_group") == {"NY", "CA", "TX"}


def test_grant_is_not_self_escalatable(spark, acl_world):
    """With enforcement ON, the SQL GRANT surface itself is gated: a
    non-admin principal cannot issue GRANT ALL PRIVILEGES to itself
    (the UC manage/ownership rule). Admins and holders of ALL
    PRIVILEGES on the securable may administer grants."""
    spark.conf.set(acl.ADMINS_CONF, "root_admin")  # alice is NOT admin
    with pytest.raises(PermissionError, match="GRANT/REVOKE"):
        run_statement(spark, "GRANT ALL PRIVILEGES ON CATALOG cat TO alice")
    with pytest.raises(PermissionError, match="GRANT/REVOKE"):
        run_statement(spark, "REVOKE SELECT ON TABLE c360 FROM alice")
    assert len(run_statement(spark, "SHOW GRANTS").collect()) == 0
    # the Python API is the storage-credential trust boundary: an
    # operator bootstraps ALL PRIVILEGES there, after which the holder
    # can administer grants below that securable via SQL
    acl.grant(spark, "ALL PRIVILEGES", "CATALOG", "cat", "alice")
    run_statement(spark, "GRANT SELECT ON TABLE c360 TO analytics_team")
    g = run_statement(spark, "SHOW GRANTS analytics_team").collect()
    assert {r["securable"] for r in g} == {"cat.gold.c360"}
    # ...but not on an unrelated catalog
    with pytest.raises(PermissionError, match="GRANT/REVOKE"):
        run_statement(spark, "GRANT USAGE ON CATALOG other_cat TO alice")


def test_same_basename_source_still_needs_select(spark, acl_world, tmp_path):
    """MERGE INTO a.t USING b.t: the source table shares the target's
    BASENAME but is a different securable — it must still pass the
    SELECT check (the skip compares canonical names, not basenames)."""
    src = LakeTable.create(
        spark,
        str(tmp_path / "staging_c360"),
        df=spark.createDataFrame([Row(id=1, v=99)]),
    )
    sqldml.register_table(spark, "stage.gold.c360", src)
    try:
        run_statement(spark, "GRANT USAGE ON CATALOG cat TO analytics_team")
        run_statement(spark, "GRANT USAGE ON SCHEMA cat.gold TO analytics_team")
        run_statement(spark, "GRANT MODIFY ON TABLE cat.gold.c360 TO analytics_team")
        with pytest.raises(PermissionError, match="stage.gold.c360"):
            run_statement(
                spark,
                "MERGE INTO cat.gold.c360 t USING stage.gold.c360 s "
                "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v",
            )
        run_statement(spark, "GRANT USAGE ON CATALOG stage TO analytics_team")
        run_statement(spark, "GRANT USAGE ON SCHEMA stage.gold TO analytics_team")
        run_statement(
            spark, "GRANT SELECT ON TABLE stage.gold.c360 TO analytics_team"
        )
        # with the SELECT grant in place the ACL no longer blocks the
        # statement — whatever the duplicate-basename EXECUTION path
        # does next (two tables sharing a basename cannot both resolve
        # as views), the refusal is not a PermissionError anymore
        try:
            run_statement(
                spark,
                "MERGE INTO cat.gold.c360 t USING stage.gold.c360 s "
                "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v",
            )
        except PermissionError as e:  # pragma: no cover
            raise AssertionError(f"ACL still blocking after grant: {e}")
        except Exception:
            pass
    finally:
        from databricks_delta_lake_project_spark.tables.sqldml import _skey

        sqldml._REGISTRY.pop(_skey(spark, "stage.gold.c360"), None)


def test_show_listings_filtered_by_privilege(spark, acl_world):
    """SHOW TABLES/SCHEMAS/CATALOGS reveal an engine securable only to
    principals holding some privilege on it, an ancestor, or something
    inside it (UC listing semantics). ADMINS_CONF members see every
    listing (metastore-admin semantics), so the hidden-case assertions
    run as a NON-admin principal."""
    spark.conf.set(acl.PRINCIPAL_CONF, "outsider")
    out = run_statement(spark, "SHOW TABLES IN cat.gold").collect()
    assert all(r["tableName"] != "c360" for r in out)
    assert all(
        r["namespace"] != "gold"
        for r in run_statement(spark, "SHOW SCHEMAS IN cat").collect()
    )
    assert all(
        r["catalog"] != "cat"
        for r in run_statement(spark, "SHOW CATALOGS").collect()
    )
    # the admin sees everything even with zero grants
    spark.conf.set(acl.PRINCIPAL_CONF, "alice")
    assert any(
        r["tableName"] == "c360"
        for r in run_statement(spark, "SHOW TABLES IN cat.gold").collect()
    )
    run_statement(spark, "GRANT SELECT ON TABLE c360 TO analytics_team")
    # the grant now reveals the table to its (non-admin) grantee
    spark.conf.set(acl.PRINCIPAL_CONF, "bob")
    spark.conf.set(GROUPS_CONF_KEY, "analytics_team")
    assert any(
        r["tableName"] == "c360"
        for r in run_statement(spark, "SHOW TABLES IN cat.gold").collect()
    )
    # the table grant reveals the ancestors too
    assert any(
        r["namespace"] == "gold"
        for r in run_statement(spark, "SHOW SCHEMAS IN cat").collect()
    )
    assert any(
        r["catalog"] == "cat"
        for r in run_statement(spark, "SHOW CATALOGS").collect()
    )


def test_grant_confirmation_scopes_to_securable_type(spark, acl_world):
    """The GRANT statement's confirmation frame lists grants of the
    GRANTED securable type only — granting on SCHEMA gold must not list
    a TABLE whose basename matches (show_grants on_type pass-through)."""
    sqldml.register_table(
        spark, "cat.gold.gold", acl_world
    )  # table literally named 'gold'
    try:
        run_statement(spark, "GRANT SELECT ON TABLE cat.gold.gold TO bob")
        out = run_statement(
            spark, "GRANT USAGE ON SCHEMA cat.gold TO analytics_team"
        ).collect()
        assert {(r["securable_type"], r["securable"]) for r in out} == {
            ("SCHEMA", "cat.gold")
        }
    finally:
        from databricks_delta_lake_project_spark.tables.sqldml import _skey

        sqldml._REGISTRY.pop(_skey(spark, "cat.gold.gold"), None)


def test_grants_persist_across_sessions(spark, tmp_path):
    """Opt-in durable grants (spark.engine.accessControl.path): grants
    written in one session enforce in a fresh one — the registry table
    is loaded lazily and written through on every grant/revoke."""
    path = str(tmp_path / "acl_registry")
    spark.conf.set(acl.PATH_CONF, path)
    try:
        acl.grant(spark, "USAGE", "CATALOG", "pcat", "team")
        acl.grant(spark, "SELECT", "SCHEMA", "pcat.gold", "team")
        # simulate a fresh session: all in-memory ACL state gone
        acl._GRANTS.clear()
        acl._LOADED.clear()
        spark.conf.set(acl.ENABLED_CONF, "true")
        spark.conf.set(acl.PRINCIPAL_CONF, "team")
        assert acl.is_authorized(spark, "SELECT", "pcat.gold.t1")
        # grants loaded from the table are visible to SHOW GRANTS
        assert len(acl.show_grants(spark).collect()) == 2
        # a revoke persists too
        acl.revoke(spark, "SELECT", "SCHEMA", "pcat.gold", "team")
        acl._GRANTS.clear()
        acl._LOADED.clear()
        assert not acl.is_authorized(spark, "SELECT", "pcat.gold.t1")
        assert len(acl.show_grants(spark).collect()) == 1
    finally:
        spark.conf.set(acl.ENABLED_CONF, "false")
        spark.conf.unset(acl.PATH_CONF)
        spark.conf.unset(acl.PRINCIPAL_CONF)
        acl._GRANTS.clear()
        acl._LOADED.clear()
        from databricks_delta_lake_project_spark.governance import systables

        systables._AUDIT.clear()


def _wipe_acl_session_state():
    acl._GRANTS.clear()
    acl._LOADED.clear()
    acl._LOCAL_ADDS.clear()
    acl._LOCAL_DELS.clear()


def test_rival_session_revoke_survives_stale_persist(spark, tmp_path):
    """Two sessions on one durable registry: B revokes a grant and
    persists; A (whose in-memory copy is stale and still holds it)
    then grants something else. A's persist must NOT resurrect the
    revoked row — persist re-reads the registry and applies only the
    session's own unflushed journal, never a blind memory overwrite."""
    path = str(tmp_path / "acl_rival")
    spark.conf.set(acl.PATH_CONF, path)
    try:
        # --- session A grants two rows (journal flushed on persist)
        acl.grant(spark, "USAGE", "CATALOG", "rcat", "team")
        acl.grant(spark, "SELECT", "SCHEMA", "rcat.gold", "team")
        stale_a = {
            sid: [dict(e) for e in g] for sid, g in acl._GRANTS.items()
        }
        loaded_a = dict(acl._LOADED)
        # --- session B: fresh state, loads registry, revokes one row
        _wipe_acl_session_state()
        assert acl.revoke(spark, "SELECT", "SCHEMA", "rcat.gold", "team") == 1
        # --- back in session A: stale memory, empty journal
        _wipe_acl_session_state()
        for sid, g in stale_a.items():
            acl._GRANTS[sid] = [dict(e) for e in g]
        acl._LOADED.update(loaded_a)
        acl.grant(spark, "MODIFY", "SCHEMA", "rcat.silver", "team")
        # --- fresh load: the revoked row stayed revoked, the new
        # grant landed, and A's memory converged onto the registry
        _wipe_acl_session_state()
        rows = {
            (r["privilege"], r["securable"])
            for r in acl.show_grants(spark).collect()
        }
        assert rows == {("USAGE", "rcat"), ("MODIFY", "rcat.silver")}
    finally:
        spark.conf.unset(acl.PATH_CONF)
        _wipe_acl_session_state()


def test_revoke_of_rival_granted_row_hits_disk(spark, tmp_path):
    """A revoke must tombstone the on-disk row even when the revoking
    session never saw it in memory (it landed on disk from a rival
    session after this session's load)."""
    from databricks_delta_lake_project_spark.tables import LakeTable

    path = str(tmp_path / "acl_tomb")
    spark.conf.set(acl.PATH_CONF, path)
    try:
        # this session loads the (not-yet-existing) registry first
        assert acl.show_grants(spark).count() == 0
        # ...then a rival session's grant lands on disk behind its back
        LakeTable.create(
            spark,
            path,
            df=spark.createDataFrame(
                [("SELECT", "TABLE", "tcat.gold.t", "eve")],
                acl._GRANT_SCHEMA,
            ),
        )
        acl.revoke(spark, "SELECT", "TABLE", "tcat.gold.t", "eve")
        _wipe_acl_session_state()
        assert acl.show_grants(spark).count() == 0
    finally:
        spark.conf.unset(acl.PATH_CONF)
        _wipe_acl_session_state()


def test_regrant_after_rival_disk_revoke_lands_on_disk(spark, tmp_path):
    """A deliberate re-grant of a row that still sits in this session's
    (stale) memory but was revoked on disk by a rival session must
    flush back to the durable registry — grant() persists whenever a
    registry path is configured, mirroring revoke()."""
    path = str(tmp_path / "acl_regrant")
    spark.conf.set(acl.PATH_CONF, path)
    try:
        acl.grant(spark, "SELECT", "SCHEMA", "gcat.gold", "team")
        stale_a = {
            sid: [dict(e) for e in g] for sid, g in acl._GRANTS.items()
        }
        loaded_a = dict(acl._LOADED)
        # rival session revokes the row on disk
        _wipe_acl_session_state()
        assert acl.revoke(spark, "SELECT", "SCHEMA", "gcat.gold", "team") == 1
        # back in session A: stale memory still holds the entry; the
        # re-grant is journaled AND must persist (not silently skip)
        _wipe_acl_session_state()
        for sid, g in stale_a.items():
            acl._GRANTS[sid] = [dict(e) for e in g]
        acl._LOADED.update(loaded_a)
        acl.grant(spark, "SELECT", "SCHEMA", "gcat.gold", "team")
        _wipe_acl_session_state()
        rows = {
            (r["privilege"], r["securable"])
            for r in acl.show_grants(spark).collect()
        }
        assert rows == {("SELECT", "gcat.gold")}
    finally:
        spark.conf.unset(acl.PATH_CONF)
        _wipe_acl_session_state()


def test_revoke_of_disk_only_row_reports_count(spark, tmp_path):
    """revoke() returns 1 when the revoked row existed only in the
    durable registry (granted by a rival session after this session's
    load) — the SQL surface must not report 'revoked 0' for a revoke
    that took effect."""
    path = str(tmp_path / "acl_count")
    spark.conf.set(acl.PATH_CONF, path)
    try:
        assert acl.show_grants(spark).count() == 0
        LakeTable.create(
            spark,
            path,
            df=spark.createDataFrame(
                [("SELECT", "TABLE", "ccat.gold.t", "eve")],
                acl._GRANT_SCHEMA,
            ),
        )
        assert acl.revoke(spark, "SELECT", "TABLE", "ccat.gold.t", "eve") == 1
        # a second revoke of the now-gone row reports 0
        assert acl.revoke(spark, "SELECT", "TABLE", "ccat.gold.t", "eve") == 0
    finally:
        spark.conf.unset(acl.PATH_CONF)
        _wipe_acl_session_state()


def test_dynamic_sql_refused_under_enforcement(spark, acl_world):
    """IDENTIFIER() / EXECUTE IMMEDIATE build names at RUNTIME — no
    token scan can check or audit them, so enforcement fails closed:
    the statement refuses loudly (naming the construct), leaves a 403
    audit row, and occurrences inside string literals (data) still
    pass. With enforcement off the guard does not run."""
    from databricks_delta_lake_project_spark.governance import systables

    run_statement(spark, "GRANT SELECT ON SCHEMA cat.gold TO alice")
    run_statement(spark, "GRANT USAGE ON CATALOG cat TO alice")
    run_statement(spark, "GRANT USAGE ON SCHEMA cat.gold TO alice")
    with pytest.raises(PermissionError, match=r"IDENTIFIER\(\)"):
        run_statement(
            spark, "SELECT * FROM IDENTIFIER('cat.gold.' || 'c360')"
        )
    with pytest.raises(PermissionError, match="EXECUTE IMMEDIATE"):
        run_statement(
            spark, "EXECUTE IMMEDIATE 'SELECT * FROM cat.gold.c360'"
        )
    # the refusals are audited like any denied read
    rows = systables.audit_df(spark).collect()
    denied = {
        (r["request_params"]["full_name_arg"], r["response"]["status_code"])
        for r in rows
    }
    assert ("IDENTIFIER()", 403) in denied
    assert ("EXECUTE IMMEDIATE", 403) in denied
    # a string LITERAL containing the construct is data, not SQL
    out = run_statement(
        spark,
        "SELECT 'IDENTIFIER(x)' AS s, count(*) AS n FROM c360",
    ).collect()[0]
    assert out["s"] == "IDENTIFIER(x)" and out["n"] == 2
    # comment occurrences are stripped before the guard sees them
    assert (
        run_statement(
            spark,
            "SELECT count(*) AS n -- EXECUTE IMMEDIATE\nFROM c360",
        ).collect()[0]["n"]
        == 2
    )
