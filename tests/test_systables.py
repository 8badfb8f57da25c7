"""Engine-owned system tables (X9/X11 SQL tail): column/catalog/schema
SET TAGS grammar, the ``system.information_schema.*_tags`` views, and
``system.access.audit`` — the reference's classification report
(``governance/data_classification.py:279-300``), PII-exposure query
(``compliance_policies.py:387-394``) and access-audit query
(``compliance_policies.py:321-334``) running verbatim."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from databricks_delta_lake_project_spark.functions.masking import (
    GROUPS_CONF_KEY,
)
from databricks_delta_lake_project_spark.governance import (
    access_control as acl,
    systables,
)
from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.session import session_key
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml


@pytest.fixture()
def tag_world(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "customers"),
        df=spark.createDataFrame(
            [
                Row(customer_id=1, email="a@x.com", phone="555-0100"),
                Row(customer_id=2, email="b@y.org", phone="555-0101"),
            ]
        ),
    )
    sqldml.register_table(spark, "tagcat.silver.customers", t)
    yield t
    sqldml._REGISTRY.pop((session_key(spark), "tagcat.silver.customers"), None)
    systables._LAYER_TAGS.clear()
    systables._QUERY_HISTORY.clear()
    systables._LINEAGE.clear()


def test_reference_classification_report_sql(spark, tag_world):
    # the reference's tagging DDL (data_classification.py:39-48,108-129)
    run_statement(
        spark,
        "ALTER CATALOG tagcat SET TAGS "
        "('project' = 'customer_360', 'domain' = 'customer_analytics')",
    )
    run_statement(
        spark,
        "ALTER SCHEMA tagcat.silver SET TAGS "
        "('layer' = 'silver', 'data_quality' = 'cleaned')",
    )
    run_statement(
        spark,
        "ALTER TABLE tagcat.silver.customers SET TAGS "
        "('sensitivity' = 'high', 'domain' = 'customer')",
    )
    run_statement(
        spark,
        "ALTER TABLE tagcat.silver.customers ALTER COLUMN email "
        "SET TAGS ('pii' = 'true', 'pii_type' = 'email', "
        "'sensitivity' = 'high')",
    )
    run_statement(
        spark,
        "ALTER TABLE tagcat.silver.customers ALTER COLUMN phone "
        "SET TAGS ('pii' = 'true', 'pii_type' = 'phone', "
        "'sensitivity' = 'medium')",
    )

    # table-level classification (data_classification.py:279-287 verbatim)
    rows = run_statement(
        spark,
        """
        SELECT table_schema, table_name, tag_name, tag_value
        FROM system.information_schema.table_tags
        WHERE table_catalog = 'tagcat'
        ORDER BY table_schema, table_name
        """,
    ).collect()
    assert sorted(
        (r.table_schema, r.table_name, r.tag_name, r.tag_value) for r in rows
    ) == [
        ("silver", "customers", "domain", "customer"),
        ("silver", "customers", "sensitivity", "high"),
    ]

    # PII column summary (data_classification.py:289-300 verbatim)
    pii = run_statement(
        spark,
        """
        SELECT table_schema, table_name, column_name, tag_value AS pii_type
        FROM system.information_schema.column_tags
        WHERE table_catalog = 'tagcat'
          AND tag_name = 'pii_type'
        ORDER BY table_schema, table_name, column_name
        """,
    ).collect()
    assert sorted((r.column_name, r.pii_type) for r in pii) == [
        ("email", "email"),
        ("phone", "phone"),
    ]

    # PII exposure summary (compliance_policies.py:387-394 verbatim)
    exposure = run_statement(
        spark,
        """
        SELECT table_schema, table_name, COUNT(*) AS pii_column_count
        FROM system.information_schema.column_tags
        WHERE tag_name = 'pii' AND tag_value = 'true'
          AND table_catalog = 'tagcat'
        GROUP BY table_schema, table_name
        """,
    ).collect()
    assert [(r.table_schema, r.table_name, r.pii_column_count) for r in exposure] == [
        ("silver", "customers", 2)
    ]

    # catalog/schema tag views
    cat = run_statement(
        spark,
        "SELECT tag_name, tag_value FROM "
        "system.information_schema.catalog_tags "
        "WHERE catalog_name = 'tagcat' ORDER BY tag_name",
    ).collect()
    assert sorted((r.tag_name, r.tag_value) for r in cat) == [
        ("domain", "customer_analytics"),
        ("project", "customer_360"),
    ]
    sch = run_statement(
        spark,
        "SELECT schema_name, tag_name, tag_value FROM "
        "system.information_schema.schema_tags "
        "WHERE catalog_name = 'tagcat' ORDER BY tag_name",
    ).collect()
    assert sorted((r.schema_name, r.tag_name, r.tag_value) for r in sch) == [
        ("silver", "data_quality", "cleaned"),
        ("silver", "layer", "silver"),
    ]


def test_unset_column_and_layer_tags(spark, tag_world):
    run_statement(
        spark,
        "ALTER TABLE customers ALTER COLUMN email SET TAGS ('pii' = 'true')",
    )
    assert tag_world.column_tags() == {"email": {"pii": "true"}}
    run_statement(
        spark, "ALTER TABLE customers ALTER COLUMN email UNSET TAGS ('pii')"
    )
    assert tag_world.column_tags() == {}

    run_statement(spark, "ALTER CATALOG tagcat SET TAGS ('a' = '1', 'b' = '2')")
    run_statement(spark, "ALTER CATALOG tagcat UNSET TAGS ('a')")
    assert systables.layer_tags(spark, "catalog") == {"tagcat": {"b": "2"}}


def test_column_tag_unknown_column_rejected(spark, tag_world):
    with pytest.raises(ValueError, match="no such column"):
        run_statement(
            spark,
            "ALTER TABLE customers ALTER COLUMN nope SET TAGS ('x' = 'y')",
        )


def test_rename_and_drop_migrate_column_tags(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "mapped"),
        df=spark.createDataFrame([Row(a=1, b="x")]),
        properties={"delta.columnMapping.mode": "name"},
    )
    t.set_column_tags("a", {"pii": "true", "pii_type": "id"})
    t.set_column_tags("b", {"pii": "true"})
    t.rename_column("a", "a2")
    assert t.column_tags()["a2"] == {"pii": "true", "pii_type": "id"}
    assert "a" not in t.column_tags()
    t.drop_column("b")
    assert "b" not in t.column_tags()
    # tag of the renamed column survives a further write
    assert sorted(t.column_tags()) == ["a2"]


@pytest.fixture()
def audit_world(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "aud_customers"),
        df=spark.createDataFrame([Row(id=1, v=10), Row(id=2, v=20)]),
    )
    sqldml.register_table(spark, "audcat.silver.customers", t)
    spark.conf.set(acl.ENABLED_CONF, "true")
    spark.conf.set(acl.PRINCIPAL_CONF, "auditor@corp.com")
    spark.conf.set(acl.ADMINS_CONF, "auditor@corp.com")
    yield t
    spark.conf.set(acl.ENABLED_CONF, "false")
    spark.conf.unset(acl.PRINCIPAL_CONF)
    spark.conf.unset(acl.ADMINS_CONF)
    acl._GRANTS.clear()
    systables._AUDIT.clear()
    sqldml._REGISTRY.pop((session_key(spark), "audcat.silver.customers"), None)


def test_reference_access_audit_sql(spark, audit_world):
    run_statement(
        spark, "GRANT ALL PRIVILEGES ON CATALOG audcat TO auditor@corp.com"
    )
    run_statement(spark, "SELECT count(*) AS n FROM customers").collect()
    run_statement(spark, "SELECT * FROM customers WHERE id = 1").collect()
    run_statement(spark, "UPDATE customers SET v = 11 WHERE id = 1")

    # the reference's data-access audit (compliance_policies.py:321-334)
    rows = run_statement(
        spark,
        """
        SELECT
            DATE(event_time) AS access_date,
            user_identity.email AS user_email,
            action_name,
            request_params.full_name_arg AS table_accessed,
            COUNT(*) AS access_count
        FROM system.access.audit
        WHERE request_params.full_name_arg LIKE 'audcat.silver.customers%'
          AND action_name IN ('getTable', 'commandSubmit')
          AND event_time >= DATEADD(DAY, -30, CURRENT_TIMESTAMP())
        GROUP BY ALL
        ORDER BY access_date DESC, access_count DESC
        """,
    ).collect()
    by_action = {r.action_name: r for r in rows}
    assert by_action["getTable"].access_count >= 2
    assert by_action["commandSubmit"].access_count >= 1
    assert by_action["getTable"].user_email == "auditor@corp.com"

    # grants are audited too
    grants = run_statement(
        spark,
        "SELECT count(*) AS n FROM system.access.audit "
        "WHERE action_name = 'grantPermission'",
    ).collect()[0]["n"]
    assert grants >= 1


def test_audit_durable_across_sessions(spark, audit_world, tmp_path):
    """spark.engine.audit.path makes system.access.audit survive the
    session: a fresh session (cleared buffers) still serves the prior
    session's events from the LakeTable-backed audit table through
    the same nested-struct schema, re-reading never duplicates rows
    (the (session, seq) identity dedups flush retries), and the
    reference's audit SQL runs unchanged over the durable view."""
    aud_path = str(tmp_path / "audit_table")
    spark.conf.set(systables.AUDIT_PATH_CONF, aud_path)
    sid = session_key(spark)
    try:
        run_statement(
            spark,
            "GRANT ALL PRIVILEGES ON CATALOG audcat TO auditor@corp.com",
        )
        run_statement(
            spark, "SELECT count(*) AS n FROM customers"
        ).collect()
        # first read flushes the pending tail and serves the table
        n1 = run_statement(
            spark,
            "SELECT count(*) AS n FROM system.access.audit "
            "WHERE request_params.full_name_arg LIKE 'audcat%'",
        ).collect()[0]["n"]
        assert n1 >= 2  # the grant + the table read
        # simulate a fresh session: in-memory buffers gone AND the
        # process nonce rotated — new events must never reuse the
        # (session, seq) identities already on disk, or the read-side
        # dedup would drop real rows
        systables._AUDIT.pop(sid, None)
        systables._AUDIT_PENDING.pop(sid, None)
        systables._AUDIT_SEQ.pop(sid, None)
        old_nonce = systables._AUDIT_NONCE
        systables._AUDIT_NONCE = "testfresh" + old_nonce[:3]
        # filter to THIS test's principal: the journal is deliberately
        # unconditional (conf-set-later durability), so in a full-suite
        # session the first flush also lands earlier tests' events for
        # other principals
        rows = run_statement(
            spark,
            """
            SELECT user_identity.email AS user_email, action_name,
                   COUNT(*) AS access_count
            FROM system.access.audit
            WHERE action_name = 'grantPermission'
              AND user_identity.email = 'auditor@corp.com'
            GROUP BY ALL
            """,
        ).collect()
        assert rows and rows[0]["user_email"] == "auditor@corp.com"
        assert rows[0]["access_count"] >= 1
        # a re-read is a no-op flush: history must not grow from
        # reading it (each read itself audits the system-table access,
        # so compare the count of the FROZEN grant events)
        again = run_statement(
            spark,
            "SELECT count(*) AS n FROM system.access.audit "
            "WHERE action_name = 'grantPermission' "
            "AND user_identity.email = 'auditor@corp.com'",
        ).collect()[0]["n"]
        assert again == rows[0]["access_count"]
        # with enforcement OFF there is no admin gate to pass: the
        # durable multi-session history must NOT be served — only the
        # session's own (grant-free) buffer
        spark.conf.set(acl.ENABLED_CONF, "false")
        try:
            ungated = run_statement(
                spark,
                "SELECT count(*) AS n FROM system.access.audit "
                "WHERE action_name = 'grantPermission'",
            ).collect()[0]["n"]
            assert ungated == 0
        finally:
            spark.conf.set(acl.ENABLED_CONF, "true")
    finally:
        spark.conf.unset(systables.AUDIT_PATH_CONF)
        systables._AUDIT_PENDING.pop(sid, None)
        systables._AUDIT_SEQ.pop(sid, None)
        systables._AUDIT_NONCE = old_nonce


def test_query_history_durable_across_sessions(spark, audit_world, tmp_path):
    """spark.engine.queryHistory.path makes system.query.history
    survive the session with the same batched write-behind contract as
    the durable audit log; the reference's slow-query filter runs over
    the durable view."""
    qh_path = str(tmp_path / "qh_table")
    spark.conf.set(systables.QUERY_HISTORY_PATH_CONF, qh_path)
    sid = session_key(spark)
    try:
        run_statement(
            spark, "GRANT ALL PRIVILEGES ON CATALOG audcat TO auditor@corp.com"
        )
        run_statement(
            spark, "SELECT count(*) AS n FROM customers"
        ).collect()
        n1 = run_statement(
            spark,
            "SELECT count(*) AS n FROM system.query.history "
            "WHERE statement_text LIKE '%customers%'",
        ).collect()[0]["n"]
        assert n1 >= 1
        # fresh session: buffers gone + nonce rotated, history
        # survives on disk
        systables._QUERY_HISTORY.pop(sid, None)
        systables._QH_PENDING.pop(sid, None)
        systables._QH_SEQ.pop(sid, None)
        old_nonce = systables._AUDIT_NONCE
        systables._AUDIT_NONCE = "qhfresh" + old_nonce[:3]
        # filter to THIS test's principal — the unconditional journal
        # also lands earlier tests' statements on the first flush
        rows = run_statement(
            spark,
            "SELECT statement_text, executed_by, total_duration_ms "
            "FROM system.query.history "
            "WHERE statement_text LIKE '%count(*)%customers%' "
            "AND executed_by = 'auditor@corp.com'",
        ).collect()
        assert rows
        assert all(r["total_duration_ms"] >= 0 for r in rows)
    finally:
        spark.conf.unset(systables.QUERY_HISTORY_PATH_CONF)
        systables._QH_PENDING.pop(sid, None)
        systables._QH_SEQ.pop(sid, None)
        systables._AUDIT_NONCE = old_nonce


@pytest.mark.slow
def test_journal_flush_degradation_visible_and_heals(spark, tmp_path):
    """A persistently failing durable journal is VISIBLE, and nothing
    is ever trimmed from it: with the storage path broken and more
    than one batch of events recorded, the record path warns with the
    consecutive-failure count, ``flush_query_history`` raises with the
    same context, ``journal_flush_health`` reports it, and a
    session-view read serves an explicit journalFlushDegraded row.
    Repointing at a good path then lands EVERY journaled row."""
    import datetime as _dt
    import warnings as _w

    bad = tmp_path / "not_a_table"
    bad.mkdir()
    (bad / "stray.txt").write_text("x")
    sid = session_key(spark)
    save = (
        systables._QUERY_HISTORY.pop(sid, None),
        systables._QH_PENDING.pop(sid, None),
        systables._QH_SEQ.get(sid),
    )
    systables._QH_SEQ[sid] = 0
    spark.conf.set(systables.QUERY_HISTORY_PATH_CONF, str(bad))
    t0 = _dt.datetime.now(_dt.timezone.utc)
    total = systables._AUDIT_FLUSH_EVERY + 7
    try:
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            for i in range(total):
                systables.record_query(spark, f"SELECT {i}", t0, 1, 1)
        msgs = [str(w.message) for w in caught]
        assert any("consecutive failure" in m for m in msgs)
        assert any("session-journaled" in m for m in msgs)
        # nothing trimmed: the pending journal holds every event
        assert len(systables._QH_PENDING[sid]) == total
        health = systables.journal_flush_health(spark, "query history")
        assert health is not None and health[0] >= 1
        # an explicit flush raises with the failure context
        with pytest.raises(RuntimeError, match="consecutive"):
            systables.flush_query_history(spark)
        # a session-view read (enforcement off) serves the degradation
        # row naming the backlog
        deg = [
            r
            for r in systables.query_history_df(spark).collect()
            if r["warehouse_id"] == "journalFlushDegraded"
        ]
        assert len(deg) == 1
        assert f"{total} query-history rows pending" in deg[0][
            "statement_text"
        ]
        # heal: repoint at a good path — every journaled row lands,
        # health clears, the degradation row disappears
        good = str(tmp_path / "qh_heal_table")
        spark.conf.set(systables.QUERY_HISTORY_PATH_CONF, good)
        assert systables.flush_query_history(spark) == total
        assert systables.journal_flush_health(spark, "query history") is None
        assert not systables._QH_PENDING[sid]
        assert LakeTable.for_path(spark, good).to_df().count() == total
        assert not [
            r
            for r in systables.query_history_df(spark).collect()
            if r["warehouse_id"] == "journalFlushDegraded"
        ]
        # the audit view serves the same degradation row shape when
        # ITS journal is degraded (read path checked directly — the
        # ledger and pending backlog are injected)
        spark.conf.set(systables.AUDIT_PATH_CONF, str(bad))
        now = t0.replace(tzinfo=None)
        systables._AUDIT_PENDING[sid] = [
            (sid, i, now, now, "u", "getTable", "t", 200)
            for i in range(systables._AUDIT_FLUSH_EVERY + 1)
        ]
        systables._FLUSH_HEALTH[(sid, "audit")] = [2, "IOError('x')"]
        try:
            arows = systables.audit_df(spark).collect()
            adeg = [
                r
                for r in arows
                if r["action_name"] == "journalFlushDegraded"
            ]
            assert len(adeg) == 1
            assert adeg[0]["response"]["status_code"] == 503
        finally:
            spark.conf.unset(systables.AUDIT_PATH_CONF)
            systables._AUDIT_PENDING.pop(sid, None)
            systables._FLUSH_HEALTH.pop((sid, "audit"), None)
    finally:
        spark.conf.unset(systables.QUERY_HISTORY_PATH_CONF)
        systables._FLUSH_HEALTH.pop((sid, "query history"), None)
        systables._QUERY_HISTORY.pop(sid, None)
        systables._QH_PENDING.pop(sid, None)
        systables._QH_SEQ.pop(sid, None)
        if save[0] is not None:
            systables._QUERY_HISTORY[sid] = save[0]
        if save[1] is not None:
            systables._QH_PENDING[sid] = save[1]
        if save[2] is not None:
            systables._QH_SEQ[sid] = save[2]


def test_journal_flush_race_never_drops_rows(spark, tmp_path, monkeypatch):
    """Race-injection for the r11 flush race: rows journaled WHILE a
    slow flush is mid-commit must survive — the rival flush waits for
    the lock and drains exactly the new rows, never slicing an
    already-drained list (which silently lost up-to-batch-size rows
    before the fix)."""
    import datetime as _dt
    import threading

    good = str(tmp_path / "qh_race_table")
    sid = session_key(spark)
    save = (
        systables._QUERY_HISTORY.pop(sid, None),
        systables._QH_PENDING.pop(sid, None),
        systables._QH_SEQ.get(sid),
    )
    systables._QH_SEQ[sid] = 0
    spark.conf.set(systables.QUERY_HISTORY_PATH_CONF, good)
    t0 = _dt.datetime.now(_dt.timezone.utc)
    in_append = threading.Event()
    release = threading.Event()
    real = systables._append_or_create

    def slow(sp, path, df):
        in_append.set()
        assert release.wait(30)
        return real(sp, path, df)

    try:
        for i in range(3):
            systables.record_query(spark, f"SELECT {i}", t0, 1, 1)
        monkeypatch.setattr(systables, "_append_or_create", slow)
        flushed: list[int] = []
        a = threading.Thread(
            target=lambda: flushed.append(
                systables.flush_query_history(spark)
            )
        )
        a.start()
        assert in_append.wait(30)
        # journal 2 MORE rows while the first flush is mid-commit,
        # then race a second flusher against it
        for i in range(3, 5):
            systables.record_query(spark, f"SELECT {i}", t0, 1, 1)
        b = threading.Thread(
            target=lambda: flushed.append(
                systables.flush_query_history(spark)
            )
        )
        b.start()
        release.set()
        a.join(60)
        b.join(60)
        assert not a.is_alive() and not b.is_alive()
        assert sorted(flushed) == [2, 3]
        assert not systables._QH_PENDING.get(sid)
        df = LakeTable.for_path(spark, good).to_df()
        assert df.count() == 5  # every row landed exactly once
    finally:
        spark.conf.unset(systables.QUERY_HISTORY_PATH_CONF)
        systables._QUERY_HISTORY.pop(sid, None)
        systables._QH_PENDING.pop(sid, None)
        systables._QH_SEQ.pop(sid, None)
        if save[0] is not None:
            systables._QUERY_HISTORY[sid] = save[0]
        if save[1] is not None:
            systables._QH_PENDING[sid] = save[1]
        if save[2] is not None:
            systables._QH_SEQ[sid] = save[2]


def test_denied_access_recorded_403(spark, audit_world):
    spark.conf.set(acl.PRINCIPAL_CONF, "intruder")
    with pytest.raises(PermissionError):
        run_statement(spark, "SELECT * FROM customers")
    spark.conf.set(acl.PRINCIPAL_CONF, "auditor@corp.com")
    rows = run_statement(
        spark,
        "SELECT user_identity.email AS who, response.status_code AS code "
        "FROM system.access.audit WHERE response.status_code = 403",
    ).collect()
    assert ("intruder", 403) in {(r.who, r.code) for r in rows}


def test_audit_view_is_admin_gated(spark, audit_world):
    run_statement(spark, "SELECT 1").collect()
    spark.conf.set(acl.PRINCIPAL_CONF, "nosy")
    with pytest.raises(PermissionError, match="system.access.audit"):
        run_statement(spark, "SELECT * FROM system.access.audit")
    spark.conf.set(acl.PRINCIPAL_CONF, "auditor@corp.com")


def test_repoint_skips_string_literals(spark, audit_world):
    out = run_statement(
        spark,
        "SELECT 'system.access.audit' AS s, count(*) AS n "
        "FROM system.access.audit",
    ).collect()[0]
    assert out["s"] == "system.access.audit"


def test_tag_views_filtered_by_acl(spark, audit_world):
    run_statement(
        spark, "GRANT ALL PRIVILEGES ON CATALOG audcat TO auditor@corp.com"
    )
    run_statement(
        spark,
        "ALTER TABLE audcat.silver.customers SET TAGS ('sensitivity' = 'high')",
    )
    # admin sees the row
    assert (
        run_statement(
            spark,
            "SELECT count(*) AS n FROM system.information_schema.table_tags "
            "WHERE table_catalog = 'audcat'",
        ).collect()[0]["n"]
        == 1
    )
    # a principal with no grants sees nothing (listing rule)
    spark.conf.set(acl.PRINCIPAL_CONF, "stranger")
    assert (
        run_statement(
            spark,
            "SELECT count(*) AS n FROM system.information_schema.table_tags "
            "WHERE table_catalog = 'audcat'",
        ).collect()[0]["n"]
        == 0
    )
    spark.conf.set(acl.PRINCIPAL_CONF, "auditor@corp.com")


def test_query_history_and_storage_tables(spark, tag_world):
    run_statement(spark, "SELECT 42 AS the_answer").collect()
    # the reference's slow-query report shape
    # (sql_warehouse_management.py:280-296)
    hist = run_statement(
        spark,
        """
        SELECT statement_text, total_duration_ms, rows_produced,
               read_bytes, executed_by, warehouse_id, start_time
        FROM system.query.history
        WHERE start_time >= DATEADD(DAY, -7, CURRENT_TIMESTAMP())
        ORDER BY total_duration_ms DESC
        """,
    ).collect()
    assert any("the_answer" in r.statement_text for r in hist)
    assert all(r.total_duration_ms >= 0 for r in hist)

    st = run_statement(
        spark,
        "SELECT * FROM system.storage.tables "
        "WHERE table_catalog = 'tagcat'",
    ).collect()
    assert len(st) == 1
    assert st[0].table_name == "customers"
    assert st[0].num_files >= 1 and st[0].size_in_bytes > 0


def test_table_lineage_from_dml_and_pipeline(spark, tag_world, tmp_path):
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "cust_updates"),
        df=spark.createDataFrame(
            [Row(customer_id=2, email="b2@y.org", phone="555-0199")]
        ),
    )
    sqldml.register_table(spark, "tagcat.silver.cust_updates", t2)
    try:
        run_statement(
            spark,
            "MERGE INTO customers t USING cust_updates s "
            "ON t.customer_id = s.customer_id "
            "WHEN MATCHED THEN UPDATE SET t.email = s.email",
        )
        # the reference's lineage query shape
        # (lineage_and_audit.py:115-124)
        rows = run_statement(
            spark,
            """
            SELECT source_table_full_name, target_table_full_name,
                   source_type, target_type
            FROM system.lineage.table_lineage
            WHERE target_table_full_name LIKE 'tagcat.silver%'
            ORDER BY target_table_full_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            (
                "tagcat.silver.cust_updates",
                "tagcat.silver.customers",
                "TABLE",
                "TABLE",
            )
        ]
    finally:
        sqldml._REGISTRY.pop(
            (session_key(spark), "tagcat.silver.cust_updates"), None
        )


def test_unsupported_system_tables_refuse_loudly(spark, tag_world):
    with pytest.raises(NotImplementedError, match="billing"):
        run_statement(spark, "SELECT * FROM system.billing.usage")
    with pytest.raises(NotImplementedError, match="compute"):
        run_statement(spark, "SELECT * FROM system.compute.clusters")


def test_information_schema_tables_and_columns(spark, tag_world):
    """system.information_schema.tables / .columns serve the UC
    catalog-browsing shape over registered tables (log metadata only):
    one row per table with its format and storage path, one row per
    column in schema order with Spark simpleString types."""
    rows = run_statement(
        spark,
        "SELECT table_schema, table_name, table_type, data_source_format "
        "FROM system.information_schema.tables "
        "WHERE table_catalog = 'tagcat'",
    ).collect()
    # the fixture table lives under tmp_path, not the warehouse dir
    assert [
        (r.table_schema, r.table_name, r.table_type, r.data_source_format)
        for r in rows
    ] == [("silver", "customers", "EXTERNAL", "DELTA")]
    cols = run_statement(
        spark,
        """
        SELECT column_name, ordinal_position, data_type, is_nullable
        FROM system.information_schema.columns
        WHERE table_catalog = 'tagcat' AND table_name = 'customers'
        ORDER BY ordinal_position
        """,
    ).collect()
    # ordinal_position is 0-based, the documented Databricks deviation
    assert [(c.column_name, c.ordinal_position) for c in cols] == [
        ("customer_id", 0),
        ("email", 1),
        ("phone", 2),
    ]
    assert cols[0]["data_type"] == "bigint"
    assert cols[1]["is_nullable"] in ("YES", "NO")
    # composes with the tag views in one statement (the reference's
    # classification style): the tagged column joins back to a real
    # column row
    run_statement(
        spark,
        "ALTER TABLE tagcat.silver.customers ALTER COLUMN email "
        "SET TAGS ('pii' = 'true')",
    )
    joined = run_statement(
        spark,
        """
        SELECT c.column_name
        FROM system.information_schema.columns c
        JOIN system.information_schema.column_tags t
          ON c.table_name = t.table_name
         AND c.column_name = t.column_name
        WHERE t.tag_name = 'pii'
        """,
    ).collect()
    assert [r.column_name for r in joined] == ["email"]
    # catalogs / schemata: namespaces implied by registered names are
    # browsable even when namespace DDL never ran in this session;
    # declared ones carry their comment
    cats = run_statement(
        spark,
        "SELECT catalog_name FROM system.information_schema.catalogs",
    ).collect()
    assert "tagcat" in {r.catalog_name for r in cats}
    run_statement(
        spark, "CREATE SCHEMA tagcat.gold COMMENT 'aggregates'"
    )
    sch = run_statement(
        spark,
        "SELECT schema_name, comment FROM "
        "system.information_schema.schemata "
        "WHERE catalog_name = 'tagcat' ORDER BY schema_name",
    ).collect()
    assert [(r.schema_name, r.comment) for r in sch] == [
        ("gold", "aggregates"),
        ("silver", None),
    ]


def test_column_lineage_simple_projections(spark, tmp_path):
    """system.lineage.column_lineage holds edges for single-source
    projection shapes (CTAS / INSERT-SELECT over one source): bare and
    aliased columns attribute directly, expression columns attribute
    every source column they reference; multi-source shapes derive
    nothing — under-report, never fabricate."""
    from databricks_delta_lake_project_spark.tables import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "src_t"),
        df=spark.createDataFrame(
            [(1, "a", 2.0)], "id long, nm string, amt double"
        ),
    )
    sqldml.register_table(spark, "lcat.bronze.src_t", t)
    try:
        # CTAS with bare + aliased columns + one expression
        run_statement(
            spark,
            f"CREATE TABLE lcat.silver.tgt_t USING delta LOCATION "
            f"'{tmp_path / 'tgt_t'}' AS "
            "SELECT id, nm AS name, amt * 2 AS doubled FROM src_t",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_column_name, target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'lcat.silver.tgt_t'
            ORDER BY target_column_name
            """,
        ).collect()
        # id->id and nm->name attributed directly; the expression
        # column attributes its single source ref (amt -> doubled)
        assert [tuple(r) for r in rows] == [
            ("amt", "doubled"),
            ("id", "id"),
            ("nm", "name"),
        ]
        # INSERT ... SELECT with explicit target columns (positional)
        run_statement(
            spark,
            "INSERT INTO lcat.silver.tgt_t (id, name, doubled) "
            "SELECT id, nm, amt FROM src_t",
        )
        rows = run_statement(
            spark,
            """
            SELECT DISTINCT source_column_name, target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'lcat.silver.tgt_t'
              AND source_column_name = 'amt'
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [("amt", "doubled")]
        # INSERT without a column list maps by POSITION against the
        # target schema (the engine renames via df.toDF(*target_cols))
        run_statement(
            spark,
            "INSERT INTO lcat.silver.tgt_t SELECT id, nm, amt FROM src_t",
        )
        rows = run_statement(
            spark,
            """
            SELECT DISTINCT source_column_name, target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'lcat.silver.tgt_t'
              AND source_column_name = 'nm'
            ORDER BY target_column_name
            """,
        ).collect()
        # nm flows to 'name' (position 2) — never to a fabricated 'nm'
        assert [tuple(r) for r in rows] == [("nm", "name")]
        # a self-join attributes alias-qualified refs to the one table
        run_statement(
            spark,
            f"CREATE TABLE lcat.silver.j_t USING delta LOCATION "
            f"'{tmp_path / 'j_t'}' AS "
            "SELECT a.id, a.nm FROM src_t a JOIN src_t b ON a.id = b.id",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_table_full_name, source_column_name,
                   target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'lcat.silver.j_t'
            ORDER BY target_column_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("lcat.bronze.src_t", "id", "id"),
            ("lcat.bronze.src_t", "nm", "nm"),
        ]
    finally:
        for nm in ("lcat.bronze.src_t", "lcat.silver.tgt_t", "lcat.silver.j_t"):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_column_lineage_expression_columns(spark, tmp_path):
    """Single-source EXPRESSION columns attribute every source column
    they reference (round(amt,2) AS r => amt->r; a CASE referencing
    two columns emits both edges); literals, casts of NULL and
    unaliased CTAS expressions still derive nothing."""
    from databricks_delta_lake_project_spark.tables import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "esrc"),
        df=spark.createDataFrame(
            [(1, "a", 2.0)], "id long, nm string, amt double"
        ),
    )
    sqldml.register_table(spark, "ecat.bronze.esrc", t)
    try:
        run_statement(
            spark,
            f"CREATE TABLE ecat.silver.etgt USING delta LOCATION "
            f"'{tmp_path / 'etgt'}' AS SELECT "
            "round(amt, 2) AS amt_r, "
            "CASE WHEN amt > 0 THEN nm ELSE 'none' END AS label, "
            "upper(nm) nm_u, "
            "1 AS one, "
            "'lit' AS s, "
            "CAST(NULL AS string) AS empty_nm, "
            "amt * id AS mix "
            "FROM esrc",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_column_name, target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'ecat.silver.etgt'
            ORDER BY target_column_name, source_column_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("amt", "amt_r"),
            ("amt", "label"),
            ("nm", "label"),
            ("amt", "mix"),
            ("id", "mix"),
            ("nm", "nm_u"),
        ]
    finally:
        for nm in ("ecat.bronze.esrc", "ecat.silver.etgt"):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_column_lineage_expression_edge_cases(spark, tmp_path):
    """Fabrication guards: a trailing SQL keyword is never read as an
    alias (unaliased CASE...END derives nothing), a struct-field
    access attributes the STRUCT column (never a same-named top-level
    column), and a FROM-alias-qualified ref attributes normally."""
    from databricks_delta_lake_project_spark.tables import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "xsrc"),
        df=spark.sql(
            "SELECT 1L AS id, 'metro' AS city, "
            "named_struct('city', 'sub') AS addr, 2.0D AS amt, 3L AS d"
        ),
    )
    sqldml.register_table(spark, "xcat.bronze.xsrc", t)
    try:
        run_statement(
            spark,
            f"CREATE TABLE xcat.silver.xtgt USING delta LOCATION "
            f"'{tmp_path / 'xtgt'}' AS SELECT "
            # struct-field access: attributes addr, never city
            "addr.city AS sub_city, "
            # alias-qualified ref attributes through the FROM alias
            "x.amt * 2 AS amt2 "
            "FROM xsrc x",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_column_name, target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'xcat.silver.xtgt'
            ORDER BY target_column_name, source_column_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("amt", "amt2"),
            ("addr", "sub_city"),
        ]
        # trailing SQL keywords are never read as aliases: unaliased
        # CASE...END / interval tails derive NOTHING (checked at the
        # scanner level — the auto-generated CTAS column name contains
        # characters parquet refuses, so end-to-end never gets there)
        from databricks_delta_lake_project_spark.queries import sqlpack

        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE xcat.silver.k1 AS SELECT "
            "CASE WHEN amt > 0 THEN city ELSE 'x' END FROM xsrc",
            "xcat.silver.k1",
        )
        assert edges == []
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE xcat.silver.k2 AS SELECT "
            "ts + interval 1 day FROM xsrc",
            "xcat.silver.k2",
        )
        assert edges == []
        # PLURAL interval units are expression tails too: no edge to a
        # target column named `days` (ADVICE r11 — the fabricated
        # alias), and an explicit alias still attributes normally
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE xcat.silver.k3 AS SELECT "
            "amt + interval 7 days FROM xsrc",
            "xcat.silver.k3",
        )
        assert edges == []
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE xcat.silver.k4 AS SELECT "
            "amt + interval 7 days AS amt_next FROM xsrc",
            "xcat.silver.k4",
        )
        assert edges == [("xcat.bronze.xsrc", "amt", "amt_next")]
        # set-op output names must not read a plural unit either
        assert sqlpack._ctas_out_names(
            "amt + interval 7 days FROM xsrc"
        ) == [None]
        # extract's SHORT field synonyms (not blanket stopwords — `d`
        # etc. are legal column names) are skipped right before a
        # keyword-FROM: extract(d FROM ...) must not attribute a
        # same-named column, while `d` elsewhere still attributes
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE xcat.silver.k5 AS SELECT "
            "extract(d FROM amt) AS dd, id + 1 AS nid FROM xsrc",
            "xcat.silver.k5",
        )
        assert edges == [
            ("xcat.bronze.xsrc", "amt", "dd"),
            ("xcat.bronze.xsrc", "id", "nid"),
        ]
    finally:
        for nm in ("xcat.bronze.xsrc", "xcat.silver.xtgt"):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_column_lineage_pivot_unpivot(spark, tmp_path):
    """PIVOT output columns derive from the aggregate's source column
    PLUS the pivot column (the values that became names); group
    columns pass through. UNPIVOT's value/name columns derive from
    every folded column. Out-of-grammar pivots (multi-column FOR)
    still derive nothing — under-report, never fabricate."""
    from databricks_delta_lake_project_spark.queries import sqlpack
    from databricks_delta_lake_project_spark.tables import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "psrc"),
        df=spark.createDataFrame(
            [("d1", "a", 1.0), ("d1", "b", 2.0), ("d2", "a", 3.0)],
            "day string, cat string, amt double",
        ),
    )
    sqldml.register_table(spark, "pcat.bronze.psrc", t)
    try:
        run_statement(
            spark,
            f"CREATE TABLE pcat.silver.ptgt USING delta LOCATION "
            f"'{tmp_path / 'ptgt'}' AS SELECT * FROM psrc "
            "PIVOT (sum(amt) FOR cat IN ('a' AS a, 'b' AS b))",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_column_name, target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'pcat.silver.ptgt'
            ORDER BY target_column_name, source_column_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("amt", "a"),
            ("cat", "a"),
            ("amt", "b"),
            ("cat", "b"),
            ("day", "day"),
        ]
        # UNPIVOT: the folded columns feed both the name and the
        # value output column; surviving columns pass through
        run_statement(
            spark,
            f"CREATE TABLE pcat.silver.utgt USING delta LOCATION "
            f"'{tmp_path / 'utgt'}' AS SELECT * FROM ptgt "
            "UNPIVOT (v FOR k IN (a, b))",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_column_name, target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'pcat.silver.utgt'
            ORDER BY target_column_name, source_column_name
            """,
        ).collect()
        # ptgt's a/b columns themselves derive from psrc via the view
        # of the CTAS above? No — lineage edges are per-statement:
        # sources here are ptgt's own columns
        assert [tuple(r) for r in rows] == [
            ("day", "day"),
            ("a", "k"),
            ("b", "k"),
            ("a", "v"),
            ("b", "v"),
        ]
        # explicit projection over a pivot attributes through the
        # virtual schema (alias-qualified too)
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE pcat.silver.p2 AS SELECT p.day, p.a AS av "
            "FROM psrc PIVOT (sum(amt) FOR cat IN ('a' AS a)) p",
            "pcat.silver.p2",
        )
        assert sorted(edges) == [
            ("pcat.bronze.psrc", "amt", "av"),
            ("pcat.bronze.psrc", "cat", "av"),
            ("pcat.bronze.psrc", "day", "day"),
        ]
        # multi-column FOR is outside the grammar: derive nothing
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE pcat.silver.p3 AS SELECT * FROM psrc "
            "PIVOT (sum(amt) FOR (cat, day) IN (('a', 'd1') AS x))",
            "pcat.silver.p3",
        )
        assert edges == []
        # a source column NAMED like the aggregate function must not
        # fabricate an edge (call-position tokens are function names)
        t2 = LakeTable.create(
            spark,
            str(tmp_path / "psrc2"),
            df=spark.createDataFrame(
                [("d1", 2.0, 1.0)], "day string, avg double, amt double"
            ),
        )
        sqldml.register_table(spark, "pcat.bronze.psrc2", t2)
        try:
            edges = sqlpack._column_lineage_edges(
                spark,
                "CREATE TABLE pcat.silver.p4 AS SELECT * FROM psrc2 "
                "PIVOT (avg(amt) FOR day IN ('d1' AS dcol))",
                "pcat.silver.p4",
            )
            # avg passes through as a GROUP column (no avg -> dcol
            # edge); dcol derives from amt + day only
            assert sorted(edges) == [
                ("pcat.bronze.psrc2", "amt", "dcol"),
                ("pcat.bronze.psrc2", "avg", "avg"),
                ("pcat.bronze.psrc2", "day", "dcol"),
            ]
        finally:
            sqldml._REGISTRY.pop(
                (session_key(spark), "pcat.bronze.psrc2"), None
            )
    finally:
        for nm in (
            "pcat.bronze.psrc",
            "pcat.silver.ptgt",
            "pcat.silver.utgt",
        ):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_column_lineage_natural_join(spark, tmp_path):
    """NATURAL joins attribute: non-common columns resolve like any
    join; a SHARED name is equated by the join itself, so it
    attributes to EVERY holder (both edges are real value flow).
    Mixed natural + ON joins keep the conservative single-holder
    rule; a bare star over a natural join still derives nothing (the
    common column coalesces out of it)."""
    from databricks_delta_lake_project_spark.queries import sqlpack
    from databricks_delta_lake_project_spark.tables import LakeTable

    a = LakeTable.create(
        spark,
        str(tmp_path / "nat_a"),
        df=spark.createDataFrame(
            [(1, "x", 5.0)], "k long, av string, shared double"
        ),
    )
    b = LakeTable.create(
        spark,
        str(tmp_path / "nat_b"),
        df=spark.createDataFrame(
            [(1, 7.0, 2.0)], "k long, bv double, shared double"
        ),
    )
    sqldml.register_table(spark, "ncat.bronze.nat_a", a)
    sqldml.register_table(spark, "ncat.bronze.nat_b", b)
    try:
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE ncat.silver.n1 AS SELECT av, bv, "
            "shared * 2 AS s2, k FROM nat_a NATURAL JOIN nat_b",
            "ncat.silver.n1",
        )
        assert sorted(edges) == [
            ("ncat.bronze.nat_a", "av", "av"),
            ("ncat.bronze.nat_a", "k", "k"),
            ("ncat.bronze.nat_a", "shared", "s2"),
            ("ncat.bronze.nat_b", "bv", "bv"),
            ("ncat.bronze.nat_b", "k", "k"),
            ("ncat.bronze.nat_b", "shared", "s2"),
        ]
        # NATURAL LEFT OUTER JOIN parses the same connector chain
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE ncat.silver.n2 AS SELECT av FROM nat_a "
            "NATURAL LEFT OUTER JOIN nat_b",
            "ncat.silver.n2",
        )
        assert edges == [("ncat.bronze.nat_a", "av", "av")]
        # mixed natural + ON join: shared names stay conservative
        # (derive nothing), qualified refs still attribute
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE ncat.silver.n3 AS SELECT x.av AS av, shared "
            "FROM nat_a x NATURAL JOIN nat_b y JOIN nat_a z ON "
            "y.k = z.k",
            "ncat.silver.n3",
        )
        assert edges == [("ncat.bronze.nat_a", "av", "av")]
        # a bare star over NATURAL is derivable too (r14): the name
        # set is exact, and every shared name flows from both holders
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE ncat.silver.n4 AS SELECT * FROM nat_a "
            "NATURAL JOIN nat_b",
            "ncat.silver.n4",
        )
        assert sorted(edges) == [
            ("ncat.bronze.nat_a", "av", "av"),
            ("ncat.bronze.nat_a", "k", "k"),
            ("ncat.bronze.nat_a", "shared", "shared"),
            ("ncat.bronze.nat_b", "bv", "bv"),
            ("ncat.bronze.nat_b", "k", "k"),
            ("ncat.bronze.nat_b", "shared", "shared"),
        ]
        # a USING-list column is equated the same way; a shared name
        # NOT in the list stays conservative (it is ambiguous SQL)
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE ncat.silver.n5 AS SELECT k, av, shared "
            "FROM nat_a JOIN nat_b USING (k)",
            "ncat.silver.n5",
        )
        assert sorted(edges) == [
            ("ncat.bronze.nat_a", "av", "av"),
            ("ncat.bronze.nat_a", "k", "k"),
            ("ncat.bronze.nat_b", "k", "k"),
        ]
        # an expression over the equated column attributes both sides
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE ncat.silver.n6 AS SELECT round(k, 0) AS rk "
            "FROM nat_a JOIN nat_b USING (k)",
            "ncat.silver.n6",
        )
        assert sorted(edges) == [
            ("ncat.bronze.nat_a", "k", "rk"),
            ("ncat.bronze.nat_b", "k", "rk"),
        ]
    finally:
        for nm in ("ncat.bronze.nat_a", "ncat.bronze.nat_b"):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_column_lineage_join_projections(spark, tmp_path):
    """Join statements attribute column lineage when every source is a
    plain registered table: qualified refs resolve through their FROM
    alias, an expression attributes refs across BOTH sides, an
    unqualified name attributes only when exactly one source schema
    holds it (a shared name derives nothing UNLESS the join list
    itself equates it — a USING-list column attributes to both
    holders since r14; an incidentally-shared name still bails), and stars expand in source-schema
    order. Out-of-grammar shapes (subquery sources, comma joins,
    NATURAL) still derive nothing."""
    from databricks_delta_lake_project_spark.queries import sqlpack
    from databricks_delta_lake_project_spark.tables import LakeTable

    o = LakeTable.create(
        spark,
        str(tmp_path / "jorders"),
        df=spark.createDataFrame(
            [(1, 10, 5.0)], "o_id long, cust_id long, amount double"
        ),
    )
    c = LakeTable.create(
        spark,
        str(tmp_path / "jcust"),
        df=spark.createDataFrame(
            [(10, "alice", "US")],
            "cust_id long, cname string, country string",
        ),
    )
    r = LakeTable.create(
        spark,
        str(tmp_path / "jrates"),
        df=spark.createDataFrame([("US", 1.1)], "country string, rate double"),
    )
    sqldml.register_table(spark, "jcat.bronze.jorders", o)
    sqldml.register_table(spark, "jcat.bronze.jcust", c)
    sqldml.register_table(spark, "jcat.bronze.jrates", r)

    def edges(sql, tgt):
        return sorted(sqlpack._column_lineage_edges(spark, sql, tgt))

    try:
        # three-table chain, qualified + cross-source expression +
        # unqualified-unique (o_id) — end-to-end through the runner
        run_statement(
            spark,
            f"CREATE TABLE jcat.silver.jt USING delta LOCATION "
            f"'{tmp_path / 'jt'}' AS "
            "SELECT o_id, cu.cname AS name, o.amount * ra.rate AS usd "
            "FROM jorders o JOIN jcust cu ON o.cust_id = cu.cust_id "
            "JOIN jrates ra ON cu.country = ra.country",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_table_full_name, source_column_name,
                   target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'jcat.silver.jt'
            ORDER BY target_column_name, source_table_full_name
            """,
        ).collect()
        assert [tuple(t) for t in rows] == [
            ("jcat.bronze.jcust", "cname", "name"),
            ("jcat.bronze.jorders", "o_id", "o_id"),
            ("jcat.bronze.jorders", "amount", "usd"),
            ("jcat.bronze.jrates", "rate", "usd"),
        ]
        # scanner-level shapes (no execution needed):
        # unqualified name BOTH sides hold derives nothing; unique
        # unqualified names attribute through a USING join whose
        # coalesced column is skipped
        assert edges(
            "CREATE TABLE jcat.silver.x1 AS SELECT cust_id, cname "
            "FROM jorders o JOIN jcust c ON o.cust_id = c.cust_id",
            "jcat.silver.x1",
        ) == [("jcat.bronze.jcust", "cname", "cname")]
        # a USING-list column is EQUATED by the join itself, so it
        # attributes to both holders (r14); other names resolve as
        # before
        assert sorted(
            edges(
                "CREATE TABLE jcat.silver.x2 AS "
                "SELECT country, cname, rate FROM jcust JOIN jrates "
                "USING (country)",
                "jcat.silver.x2",
            )
        ) == [
            ("jcat.bronze.jcust", "cname", "cname"),
            ("jcat.bronze.jcust", "country", "country"),
            ("jcat.bronze.jrates", "country", "country"),
            ("jcat.bronze.jrates", "rate", "rate"),
        ]
        # t.* expands that side's schema; bare * expands all sources
        # in order for an ON join, and derives nothing for a USING
        # join (the coalesced column's side is unknowable)
        assert edges(
            "CREATE TABLE jcat.silver.x3 AS SELECT c.*, o.amount AS amt "
            "FROM jorders o JOIN jcust c ON o.cust_id = c.cust_id",
            "jcat.silver.x3",
        ) == [
            ("jcat.bronze.jcust", "cname", "cname"),
            ("jcat.bronze.jcust", "country", "country"),
            ("jcat.bronze.jcust", "cust_id", "cust_id"),
            ("jcat.bronze.jorders", "amount", "amt"),
        ]
        assert edges(
            "CREATE TABLE jcat.silver.x4 AS SELECT * FROM jcust c "
            "JOIN jrates r ON c.country = r.country",
            "jcat.silver.x4",
        ) == [
            ("jcat.bronze.jcust", "cname", "cname"),
            ("jcat.bronze.jcust", "country", "country"),
            ("jcat.bronze.jcust", "cust_id", "cust_id"),
            ("jcat.bronze.jrates", "country", "country"),
            ("jcat.bronze.jrates", "rate", "rate"),
        ]
        # r14: a bare star over an ALL-equating join list (USING /
        # NATURAL) is derivable — the name set and its sources are
        # exact even though duplicate columns drop, and the equated
        # column flows from every holder
        assert sorted(
            edges(
                "CREATE TABLE jcat.silver.x5 AS SELECT * FROM jcust "
                "JOIN jrates USING (country)",
                "jcat.silver.x5",
            )
        ) == [
            ("jcat.bronze.jcust", "cname", "cname"),
            ("jcat.bronze.jcust", "country", "country"),
            ("jcat.bronze.jcust", "cust_id", "cust_id"),
            ("jcat.bronze.jrates", "country", "country"),
            ("jcat.bronze.jrates", "rate", "rate"),
        ]
        # INSERT over a join maps by position against the explicit
        # column list; a star mixed with other items shifts every
        # position, so the whole INSERT derives nothing
        assert edges(
            "INSERT INTO jcat.bronze.jorders (o_id, cust_id) "
            "SELECT o.o_id, c.cust_id FROM jorders o "
            "JOIN jcust c ON o.cust_id = c.cust_id",
            "jcat.silver.other",
        ) == [
            ("jcat.bronze.jcust", "cust_id", "cust_id"),
            ("jcat.bronze.jorders", "o_id", "o_id"),
        ]
        assert (
            edges(
                "INSERT INTO jcat.silver.z (a, b, c) SELECT *, 1 "
                "FROM jcust JOIN jrates ON true",
                "jcat.silver.z",
            )
            == []
        )
        # out-of-grammar FROM shapes derive nothing —
        # PIVOT/UNPIVOT/TABLESAMPLE/WINDOW after the join, and
        # MINUS as the EXCEPT synonym the set-op bail must also catch.
        # (NATURAL JOIN left this list in r14: it now parses as a
        # connector — see test_column_lineage_natural_join.)
        for frm in (
            "(SELECT 1 AS x) q JOIN jcust ON true",
            "jorders a JOIN (SELECT * FROM jcust) b ON a.cust_id = b.cust_id",
            "jorders o JOIN jcust c ON o.cust_id = c.cust_id "
            "PIVOT (sum(amount) FOR country IN ('US'))",
            "jcust TABLESAMPLE (10 PERCENT)",
            "jcust WINDOW w AS (PARTITION BY country)",
            # WINDOW's LEGAL position is after WHERE/GROUP BY — the
            # pre-scan must catch it there too (a source column named
            # like the window name would otherwise fabricate an edge)
            "jcust WHERE cust_id > 0 WINDOW w AS (ORDER BY cust_id)",
        ):
            assert (
                edges(
                    f"CREATE TABLE jcat.silver.zz AS SELECT cname FROM {frm}",
                    "jcat.silver.zz",
                )
                == []
            )
        # a bare column named like a FROM terminator inside an ON
        # condition must not truncate the source list when a later
        # JOIN exists (table jrates would be dropped and a ref to it
        # mis-resolved); with no later JOIN the sources are complete
        # and the statement still attributes
        assert (
            edges(
                "CREATE TABLE jcat.silver.zz AS SELECT cname FROM "
                "jorders o JOIN jcust c ON o.cust_id = c.cust_id "
                "AND cluster = 1 JOIN jrates r ON c.country = r.country",
                "jcat.silver.zz",
            )
            == []
        )
        assert edges(
            "CREATE TABLE jcat.silver.zz AS SELECT cname FROM "
            "jorders o JOIN jcust c ON o.cust_id = c.cust_id "
            "AND cluster = 1",
            "jcat.silver.zz",
        ) == [("jcat.bronze.jcust", "cname", "cname")]
        # COMMA joins resolve like CROSS joins: plain lists, aliased
        # lists with a WHERE, and a comma continuing the list after an
        # ON condition all attribute; an unqualified name both sides
        # hold still derives nothing
        assert edges(
            "CREATE TABLE jcat.silver.c1 AS "
            "SELECT cname, amount FROM jorders, jcust",
            "jcat.silver.c1",
        ) == [
            ("jcat.bronze.jcust", "cname", "cname"),
            ("jcat.bronze.jorders", "amount", "amount"),
        ]
        assert edges(
            "CREATE TABLE jcat.silver.c2 AS "
            "SELECT o.amount * r.rate AS usd FROM jorders o, jrates r "
            "WHERE o.o_id > 0 GROUP BY usd, o.amount",
            "jcat.silver.c2",
        ) == [
            ("jcat.bronze.jorders", "amount", "usd"),
            ("jcat.bronze.jrates", "rate", "usd"),
        ]
        assert edges(
            "CREATE TABLE jcat.silver.c3 AS SELECT rate FROM "
            "jorders o JOIN jcust c ON o.cust_id = c.cust_id, jrates",
            "jcat.silver.c3",
        ) == [("jcat.bronze.jrates", "rate", "rate")]
        assert (
            edges(
                "CREATE TABLE jcat.silver.c4 AS "
                "SELECT cust_id FROM jorders, jcust",
                "jcat.silver.c4",
            )
            == []
        )
        # ...but a comma AFTER a terminator-named bare column inside
        # an ON condition ("AND cluster = 1, jrates") is unreadable —
        # the list may extend past the misread word, so the whole
        # clause refuses rather than drop jrates (whose `country`
        # would flip `country` from ambiguous to fabricated)
        assert (
            edges(
                "CREATE TABLE jcat.silver.c5 AS SELECT cname FROM "
                "jorders o JOIN jcust c ON o.cust_id = c.cust_id "
                "AND cluster = 1, jrates",
                "jcat.silver.c5",
            )
            == []
        )
        # a dotted FUNCTION call's namespace root is code, not data —
        # even when a source column shares its name; and a keyword
        # operator's trailing operand is never read as an alias
        assert edges(
            "CREATE TABLE jcat.silver.zz AS "
            "SELECT amount.fmt(cust_id) AS x FROM jorders",
            "jcat.silver.zz",
        ) == [("jcat.bronze.jorders", "cust_id", "x")]
        assert (
            edges(
                "CREATE TABLE jcat.silver.zz AS "
                "SELECT amount AND cust_id FROM jorders",
                "jcat.silver.zz",
            )
            == []
        )
        # lateral column aliases COMPOSE: a later item's reference to
        # an earlier alias (a name no source holds) expands to that
        # item's ancestry — plain re-projection, expression chains,
        # and an underivable head (rand()) that derives nothing
        assert edges(
            "CREATE TABLE jcat.silver.x6 AS "
            "SELECT amount AS b, b AS c2 FROM jorders",
            "jcat.silver.x6",
        ) == [
            ("jcat.bronze.jorders", "amount", "b"),
            ("jcat.bronze.jorders", "amount", "c2"),
        ]
        assert edges(
            "CREATE TABLE jcat.silver.x6b AS SELECT "
            "amount * 2 AS dbl, round(dbl + o_id, 1) AS score, "
            "score AS score2 FROM jorders",
            "jcat.silver.x6b",
        ) == [
            ("jcat.bronze.jorders", "amount", "dbl"),
            ("jcat.bronze.jorders", "amount", "score"),
            ("jcat.bronze.jorders", "amount", "score2"),
            ("jcat.bronze.jorders", "o_id", "score"),
            ("jcat.bronze.jorders", "o_id", "score2"),
        ]
        assert edges(
            "CREATE TABLE jcat.silver.x6c AS "
            "SELECT rand() AS r, r + amount AS z FROM jorders",
            "jcat.silver.x6c",
        ) == [("jcat.bronze.jorders", "amount", "z")]
        # ...but a REAL column always wins over a lateral alias: the
        # second `cname` reads jcust, and an alias sharing an
        # AMBIGUOUS real name (country) expands nothing
        assert edges(
            "CREATE TABLE jcat.silver.x6d AS "
            "SELECT cust_id AS cname, cname AS n2 "
            "FROM jcust",
            "jcat.silver.x6d",
        ) == [
            ("jcat.bronze.jcust", "cname", "n2"),
            ("jcat.bronze.jcust", "cust_id", "cname"),
        ]
        assert edges(
            "CREATE TABLE jcat.silver.x6e AS "
            "SELECT amount AS country, country AS c2 "
            "FROM jorders o JOIN jcust c ON o.cust_id = c.cust_id "
            "JOIN jrates r ON c.country = r.country",
            "jcat.silver.x6e",
        ) == [("jcat.bronze.jorders", "amount", "country")]
        # the GROUP-BY window() FUNCTION is not a WINDOW clause: the
        # statement still attributes
        assert edges(
            "CREATE TABLE jcat.silver.x7 AS SELECT cname FROM jcust "
            "WHERE cust_id > 0 GROUP BY window(cname, '1 hour'), cname",
            "jcat.silver.x7",
        ) == [("jcat.bronze.jcust", "cname", "cname")]
        # a 3+-part dotted chain's tail must never attribute through a
        # coincidental alias, and its root (catalog prefix or nested
        # struct) attributes nothing; a star the strict regex does not
        # match still voids the whole INSERT (positions shift)
        assert (
            edges(
                "CREATE TABLE jcat.silver.x8 AS "
                "SELECT jcat.bronze.jcust.cname AS n FROM jcust",
                "jcat.silver.x8",
            )
            == []
        )
        assert (
            edges(
                "INSERT INTO jcat.bronze.jorders (o_id, cust_id, amount) "
                "SELECT `jcust`.*, 1 FROM jcust",
                "jcat.silver.other",
            )
            == []
        )
    finally:
        for nm in (
            "jcat.bronze.jorders",
            "jcat.bronze.jcust",
            "jcat.bronze.jrates",
            "jcat.silver.jt",
        ):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_lineage_cte_shadowing(spark, tmp_path):
    """A WITH-clause CTE shadows a same-named registered table: both
    table- and column-level lineage must NOT attribute the table when
    the statement reads the CTE — including inside set-op branches,
    whose re-scan no longer carries the original WITH clause. A
    non-shadowed reference to the registered name still attributes."""
    from databricks_delta_lake_project_spark.queries import sqlpack
    from databricks_delta_lake_project_spark.tables import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "ct"),
        df=spark.createDataFrame([(1, "x")], "id long, nm string"),
    )
    r = LakeTable.create(
        spark,
        str(tmp_path / "creal"),
        df=spark.createDataFrame([(2,)], "id long"),
    )
    sqldml.register_table(spark, "ccat.s.ct", t)
    sqldml.register_table(spark, "ccat.s.creal", r)
    try:
        shadowed = (
            "CREATE TABLE ccat.s.out AS "
            "WITH ct AS (SELECT 5 AS id, 'q' AS nm FROM range(1)) "
            "SELECT id, nm FROM ct"
        )
        assert (
            sqlpack._column_lineage_edges(spark, shadowed, "ccat.s.out")
            == []
        )
        assert sqlpack._lineage_sources(spark, shadowed) == set()
        # the CTE name threads into set-op branch re-scans
        mixed = (
            "CREATE TABLE ccat.s.out AS "
            "WITH ct AS (SELECT 5 AS id FROM range(1)) "
            "SELECT id FROM ct UNION ALL SELECT id FROM creal"
        )
        assert sqlpack._column_lineage_edges(
            spark, mixed, "ccat.s.out"
        ) == [("ccat.s.creal", "id", "id")]
        # without a WITH clause the same name is the registered table
        plain = "CREATE TABLE ccat.s.out AS SELECT id, nm FROM ct"
        assert sqlpack._column_lineage_edges(
            spark, plain, "ccat.s.out"
        ) == [
            ("ccat.s.ct", "id", "id"),
            ("ccat.s.ct", "nm", "nm"),
        ]
        assert sqlpack._lineage_sources(spark, plain) == {"ccat.s.ct"}
    finally:
        for nm in ("ccat.s.ct", "ccat.s.creal"):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_column_lineage_cte_composition(spark, tmp_path):
    """WITH-clause CTEs compose: a reference through a CTE column
    expands to the real table columns it derives from — through
    expression chains, multi-CTE chains, explicit CTE column lists,
    stars, joins with real tables and set-op branches. A CTE whose
    body is not attributable (VALUES, table functions) still shadows
    and derives nothing."""
    from databricks_delta_lake_project_spark.queries import sqlpack
    from databricks_delta_lake_project_spark.tables import LakeTable

    o = LakeTable.create(
        spark,
        str(tmp_path / "worders"),
        df=spark.createDataFrame(
            [(1, 10, 5.0)], "o_id long, cust_id long, amount double"
        ),
    )
    c = LakeTable.create(
        spark,
        str(tmp_path / "wcust"),
        df=spark.createDataFrame(
            [(10, "alice")], "cust_id long, cname string"
        ),
    )
    sqldml.register_table(spark, "wcat.s.worders", o)
    sqldml.register_table(spark, "wcat.s.wcust", c)

    def edges(sql):
        return sorted(
            sqlpack._column_lineage_edges(spark, sql, "wcat.s.t")
        )

    try:
        # end-to-end through the runner: expression chain composes
        # (amount -> dbl inside the CTE, dbl -> r outside)
        run_statement(
            spark,
            f"CREATE TABLE wcat.s.t USING delta LOCATION "
            f"'{tmp_path / 'wt'}' AS "
            "WITH x AS (SELECT o_id, amount * 2 AS dbl FROM worders) "
            "SELECT o_id, round(dbl, 1) AS r FROM x",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_table_full_name, source_column_name,
                   target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'wcat.s.t'
            ORDER BY target_column_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("wcat.s.worders", "o_id", "o_id"),
            ("wcat.s.worders", "amount", "r"),
        ]
        # chain of CTEs
        assert edges(
            "CREATE TABLE wcat.s.t2 AS "
            "WITH a AS (SELECT cust_id, amount FROM worders), "
            "b AS (SELECT cust_id, amount AS amt FROM a) "
            "SELECT amt FROM b"
        ) == [("wcat.s.worders", "amount", "amt")]
        # explicit CTE column list maps positionally
        assert edges(
            "CREATE TABLE wcat.s.t2 AS "
            "WITH x (k, v) AS (SELECT o_id, amount FROM worders) "
            "SELECT k, v FROM x"
        ) == [
            ("wcat.s.worders", "amount", "v"),
            ("wcat.s.worders", "o_id", "k"),
        ]
        # CTE joined with a real table; star over a CTE
        assert edges(
            "CREATE TABLE wcat.s.t2 AS "
            "WITH x AS (SELECT cust_id, amount FROM worders) "
            "SELECT x.amount, c.cname FROM x "
            "JOIN wcust c ON x.cust_id = c.cust_id"
        ) == [
            ("wcat.s.wcust", "cname", "cname"),
            ("wcat.s.worders", "amount", "amount"),
        ]
        # COMMA-joined CTEs — the reference's own KPI dashboard shape
        # (sql_queries_and_dashboards.py:43-73 comma-joins
        # current_period and previous_period) — END-TO-END through the
        # runner into system.lineage.column_lineage
        run_statement(
            spark,
            f"CREATE TABLE wcat.s.kpi USING delta LOCATION "
            f"'{tmp_path / 'kpi'}' AS "
            "WITH cur AS (SELECT sum(amount) AS revenue_30d "
            "FROM worders), "
            "prev AS (SELECT sum(amount) AS revenue_prev_30d "
            "FROM worders) "
            "SELECT c.revenue_30d, round((c.revenue_30d - "
            "p.revenue_prev_30d) / nullif(p.revenue_prev_30d, 0) "
            "* 100, 1) AS growth_pct FROM cur c, prev p",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_table_full_name, source_column_name,
                   target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'wcat.s.kpi'
            ORDER BY target_column_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("wcat.s.worders", "amount", "growth_pct"),
            ("wcat.s.worders", "amount", "revenue_30d"),
        ]
        assert edges(
            "CREATE TABLE wcat.s.t2 AS "
            "WITH x AS (SELECT o_id, amount FROM worders) SELECT * FROM x"
        ) == [
            ("wcat.s.worders", "amount", "amount"),
            ("wcat.s.worders", "o_id", "o_id"),
        ]
        # a set-op branch reading a CTE composes too (dedup with the
        # direct-read branch)
        assert edges(
            "CREATE TABLE wcat.s.t2 AS WITH x AS "
            "(SELECT o.amount, c.cname FROM worders o "
            "JOIN wcust c ON o.cust_id = c.cust_id) "
            "SELECT amount FROM x UNION ALL SELECT amount FROM worders"
        ) == [("wcat.s.worders", "amount", "amount")]
        # unattributable CTE bodies (table functions) shadow only
        assert (
            edges(
                "CREATE TABLE wcat.s.t2 AS "
                "WITH wcust AS (SELECT 1 AS cust_id FROM range(1)) "
                "SELECT cust_id FROM wcust"
            )
            == []
        )
        # the virtual schema is FULL-WIDTH: an underivable leading
        # position (a bare literal) must not shift star-expanded
        # positional INSERT targets — amount is position 1 and lands
        # in the second column, never the first; duplicated output
        # names are unreferenceable and attribute nothing
        assert sqlpack._column_lineage_edges(
            spark,
            "INSERT INTO wcat.s.two (k, v) "
            "WITH c AS (SELECT 1, amount FROM worders) SELECT * FROM c",
            "wcat.s.two",
        ) == [("wcat.s.worders", "amount", "v")]
        assert (
            sqlpack._column_lineage_edges(
                spark,
                "INSERT INTO wcat.s.two (k, v) WITH c AS "
                "(SELECT amount, o_id AS amount FROM worders) "
                "SELECT * FROM c",
                "wcat.s.two",
            )
            == []
        )
        # DERIVED TABLES resolve like inline CTEs: alone, joined with
        # real tables, nested, under stars and inside set-op branches;
        # unattributable bodies (VALUES, paren-grouped joins) derive
        # nothing
        assert edges(
            "CREATE TABLE wcat.s.t2 AS SELECT q.amt, c.cname FROM "
            "(SELECT cust_id, amount * 2 AS amt FROM worders) q "
            "JOIN wcust c ON q.cust_id = c.cust_id"
        ) == [
            ("wcat.s.wcust", "cname", "cname"),
            ("wcat.s.worders", "amount", "amt"),
        ]
        assert edges(
            "CREATE TABLE wcat.s.t2 AS SELECT amt FROM "
            "(SELECT amt FROM (SELECT amount AS amt FROM worders) i) q"
        ) == [("wcat.s.worders", "amount", "amt")]
        assert edges(
            "CREATE TABLE wcat.s.t2 AS SELECT a.o_id, b.cname "
            "FROM worders a JOIN (SELECT cust_id, cname FROM wcust) b "
            "ON a.cust_id = b.cust_id"
        ) == [
            ("wcat.s.wcust", "cname", "cname"),
            ("wcat.s.worders", "o_id", "o_id"),
        ]
        assert edges(
            "CREATE TABLE wcat.s.t2 AS SELECT * FROM "
            "(SELECT o_id, amount FROM worders) q"
        ) == [
            ("wcat.s.worders", "amount", "amount"),
            ("wcat.s.worders", "o_id", "o_id"),
        ]
        assert (
            edges(
                "CREATE TABLE wcat.s.t2 AS SELECT x FROM (VALUES (1)) v(x)"
            )
            == []
        )
        assert (
            edges(
                "CREATE TABLE wcat.s.t2 AS SELECT o_id FROM "
                "(worders a JOIN wcust c ON a.cust_id = c.cust_id)"
            )
            == []
        )
        # whitespace-free CTE spelling (x(a,b)AS(...)) still shadows;
        # a parenthesized CTAS over a DOTTED target must NOT shadow a
        # source sharing the target's last name part; a user CTE that
        # takes a synthetic derived-table name keeps its own identity
        assert (
            sqlpack._lineage_sources(
                spark,
                "INSERT INTO wcat.s.z WITH worders(a)AS"
                "(SELECT 1 FROM range(1)) SELECT a FROM worders",
            )
            == set()
        )
        assert sqlpack._lineage_sources(
            spark,
            "CREATE TABLE backup.worders AS (SELECT o_id FROM worders)",
        ) == {"wcat.s.worders"}
        assert sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE wcat.s.t2 AS "
            "WITH __dt_0 AS (SELECT cname AS v FROM wcust) "
            "SELECT __dt_0.v FROM (SELECT o_id AS v FROM worders) q "
            "JOIN __dt_0 ON q.v = __dt_0.v",
            "wcat.s.t2",
        ) == [("wcat.s.wcust", "cname", "v")]
        # a BACKTICKED CTE name still shadows a registered table in
        # TABLE-level lineage (column lineage bails via the strict
        # WITH parser either way)
        assert (
            sqlpack._lineage_sources(
                spark,
                "CREATE TABLE wcat.s.t2 AS WITH `worders` AS "
                "(SELECT 5 AS amount FROM range(1)) "
                "SELECT amount FROM `worders`",
            )
            == set()
        )
    finally:
        for nm in (
            "wcat.s.worders", "wcat.s.wcust", "wcat.s.t", "wcat.s.kpi",
        ):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_lineage_durable_across_sessions(spark, tmp_path):
    """spark.engine.lineage.path makes both lineage system tables
    survive the session: a fresh session (cleared buffers) still
    serves the prior session's edges from the LakeTable-backed table,
    flushes are diff-appends (re-reading or re-recording the same
    edges never grows the table), and new edges compose."""
    from databricks_delta_lake_project_spark.governance import systables
    from databricks_delta_lake_project_spark.tables import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "dl_src"),
        df=spark.createDataFrame([(1, "a")], "id long, nm string"),
    )
    sqldml.register_table(spark, "dcat.b.dl_src", t)
    lin_path = str(tmp_path / "lineage_table")
    spark.conf.set(systables.LINEAGE_PATH_CONF, lin_path)
    sid = session_key(spark)
    try:
        run_statement(
            spark,
            f"CREATE TABLE dcat.s.dl_tgt USING delta LOCATION "
            f"'{tmp_path / 'dl_tgt'}' AS SELECT id, nm AS name FROM dl_src",
        )
        # first read flushes the pending edges to the durable table
        rows = run_statement(
            spark,
            "SELECT source_table_full_name, target_table_full_name "
            "FROM system.lineage.table_lineage",
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("dcat.b.dl_src", "dcat.s.dl_tgt")
        ]
        n_disk = LakeTable.for_path(spark, lin_path).to_df().count()
        assert n_disk == 3  # 1 table edge + 2 column edges
        # a second read is a no-op flush: the table must not grow
        run_statement(
            spark,
            "SELECT count(*) AS n FROM system.lineage.column_lineage",
        ).collect()
        assert LakeTable.for_path(spark, lin_path).to_df().count() == 3
        # simulate a fresh session: in-memory buffers gone
        systables._LINEAGE.pop(sid, None)
        systables._COL_LINEAGE.pop(sid, None)
        systables._LIN_PERSISTED.pop((sid, lin_path), None)
        systables._COL_PERSISTED.pop((sid, lin_path), None)
        rows = run_statement(
            spark,
            """
            SELECT source_column_name, target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'dcat.s.dl_tgt'
            ORDER BY target_column_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("id", "id"),
            ("nm", "name"),
        ]
        # the "new" session re-running the same DML re-records the
        # same facts — the diff-append must not duplicate them
        run_statement(
            spark,
            "INSERT INTO dcat.s.dl_tgt SELECT id, nm FROM dl_src",
        )
        run_statement(
            spark,
            "SELECT count(*) AS n FROM system.lineage.table_lineage",
        ).collect()
        assert LakeTable.for_path(spark, lin_path).to_df().count() == 3
    finally:
        spark.conf.unset(systables.LINEAGE_PATH_CONF)
        for nm in ("dcat.b.dl_src", "dcat.s.dl_tgt"):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)
        systables._LINEAGE.pop(sid, None)
        systables._COL_LINEAGE.pop(sid, None)
        systables._LIN_PERSISTED.pop((sid, lin_path), None)
        systables._COL_PERSISTED.pop((sid, lin_path), None)


def test_column_lineage_set_operations(spark, tmp_path):
    """Set-operation statements attribute per branch, positionally:
    every UNION branch's item i lands under output name i (the INSERT
    column list, or the first branch's names for CTAS); the right side
    of INTERSECT/EXCEPT/MINUS only filters rows and derives nothing.
    Underivable first-branch names (unaliased expressions / literals)
    drop that position in all branches; a FIRST-branch star derives
    nothing (its width would have to be guessed) while a later
    branch's SOLE star expands positionally; a set-op keyword inside a
    string literal is not a set op."""
    from databricks_delta_lake_project_spark.queries import sqlpack
    from databricks_delta_lake_project_spark.tables import LakeTable

    x = LakeTable.create(
        spark,
        str(tmp_path / "ux"),
        df=spark.createDataFrame(
            [(1, "a", 2.0)], "id long, nm string, amt double"
        ),
    )
    y = LakeTable.create(
        spark,
        str(tmp_path / "uy"),
        df=spark.createDataFrame(
            [(9, "z", 3.0)], "yid long, ynm string, yamt double"
        ),
    )
    sqldml.register_table(spark, "ucat.s.ux", x)
    sqldml.register_table(spark, "ucat.s.uy", y)

    def edges(sql):
        return sorted(
            sqlpack._column_lineage_edges(spark, sql, "ucat.s.tgt")
        )

    try:
        # end-to-end: CTAS over UNION ALL records both branches
        run_statement(
            spark,
            f"CREATE TABLE ucat.s.tgt USING delta LOCATION "
            f"'{tmp_path / 'utgt'}' AS "
            "SELECT id, nm AS name FROM ux "
            "UNION ALL SELECT yid, ynm FROM uy",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_table_full_name, source_column_name,
                   target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'ucat.s.tgt'
            ORDER BY target_column_name, source_table_full_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("ucat.s.ux", "id", "id"),
            ("ucat.s.uy", "yid", "id"),
            ("ucat.s.ux", "nm", "name"),
            ("ucat.s.uy", "ynm", "name"),
        ]
        # EXCEPT / MINUS: the right branch filters rows, it
        # contributes no values — only the left side attributes
        assert edges(
            "CREATE TABLE ucat.s.tgt2 AS "
            "SELECT id FROM ux EXCEPT SELECT yid FROM uy"
        ) == [("ucat.s.ux", "id", "id")]
        assert edges(
            "CREATE TABLE ucat.s.tgt2 AS "
            "SELECT id FROM ux MINUS SELECT yid FROM uy"
        ) == [("ucat.s.ux", "id", "id")]
        # mixed ops: a UNION b EXCEPT c — a and b contribute, c filters
        assert edges(
            "CREATE TABLE ucat.s.tgt2 AS SELECT id FROM ux "
            "UNION SELECT yid FROM uy EXCEPT SELECT id FROM ux WHERE id > 5"
        ) == [
            ("ucat.s.ux", "id", "id"),
            ("ucat.s.uy", "yid", "id"),
        ]
        # INSERT over UNION maps positionally to the explicit list
        assert edges(
            "INSERT INTO ucat.s.zz (c1, c2) SELECT id, amt FROM ux "
            "UNION SELECT yid, yamt FROM uy"
        ) == [
            ("ucat.s.ux", "amt", "c2"),
            ("ucat.s.ux", "id", "c1"),
            ("ucat.s.uy", "yamt", "c2"),
            ("ucat.s.uy", "yid", "c1"),
        ]
        # an underivable first-branch name (unaliased expression)
        # drops that position in EVERY branch
        assert edges(
            "CREATE TABLE ucat.s.tgt2 AS "
            "SELECT round(amt,2) AS r, id+1 FROM ux "
            "UNION ALL SELECT yamt, yid FROM uy"
        ) == [
            ("ucat.s.ux", "amt", "r"),
            ("ucat.s.uy", "yamt", "r"),
        ]
        # a join inside a branch attributes through the branch scanner
        assert edges(
            "CREATE TABLE ucat.s.tgt2 AS "
            "SELECT a.id FROM ux a JOIN uy b ON a.id = b.yid "
            "UNION ALL SELECT yid FROM uy"
        ) == [
            ("ucat.s.ux", "id", "id"),
            ("ucat.s.uy", "yid", "id"),
        ]
        # a FIRST-branch star derives nothing (its width would have to
        # be guessed) — a LATER branch's sole star expands positionally
        # under the first branch's names; a literal leading the first
        # branch drops that position everywhere (Spark auto-names it
        # 'true', not the token the regex read)
        assert (
            edges(
                "CREATE TABLE ucat.s.tgt2 AS SELECT * FROM ux "
                "UNION ALL SELECT yid, ynm, yamt FROM uy"
            )
            == []
        )
        assert edges(
            "CREATE TABLE ucat.s.tgt2 AS SELECT id, nm, amt FROM ux "
            "UNION ALL SELECT * FROM uy"
        ) == [
            ("ucat.s.ux", "amt", "amt"),
            ("ucat.s.ux", "id", "id"),
            ("ucat.s.ux", "nm", "nm"),
            ("ucat.s.uy", "yamt", "amt"),
            ("ucat.s.uy", "yid", "id"),
            ("ucat.s.uy", "ynm", "nm"),
        ]
        assert edges(
            "CREATE TABLE ucat.s.tgt2 AS SELECT TRUE, id FROM ux "
            "UNION ALL SELECT ynm, yid FROM uy"
        ) == [
            ("ucat.s.ux", "id", "id"),
            ("ucat.s.uy", "yid", "id"),
        ]
        assert edges(
            "CREATE TABLE ucat.s.tgt2 AS SELECT id, 'UNION' AS k FROM ux"
        ) == [("ucat.s.ux", "id", "id")]
    finally:
        for nm in ("ucat.s.ux", "ucat.s.uy", "ucat.s.tgt"):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_column_lineage_merge(spark, tmp_path):
    """MERGE INTO records column lineage for its assignment targets:
    each UPDATE SET / INSERT VALUES expression attributes its
    references to the SOURCE (a plain registered table, or a subquery
    whose output columns expand to the real columns they derive from);
    UPDATE SET * / INSERT * map every target column from the
    same-named source column; references to the target's own columns
    (value recirculation), literals, star-bodied subqueries and
    ON/WHEN filter conditions derive nothing."""
    from databricks_delta_lake_project_spark.queries import sqlpack
    from databricks_delta_lake_project_spark.tables import LakeTable

    tgt = LakeTable.create(
        spark,
        str(tmp_path / "mtgt"),
        df=spark.createDataFrame(
            [(1, 5.0, "x")], "id long, amount double, tag string"
        ),
    )
    src = LakeTable.create(
        spark,
        str(tmp_path / "msrc"),
        df=spark.createDataFrame(
            [(1, 7.0, 1.1), (2, 3.0, 1.2)],
            "id long, amt double, rate double",
        ),
    )
    sqldml.register_table(spark, "mcat.s.mtgt", tgt)
    sqldml.register_table(spark, "mcat.s.mlsrc", src)

    def edges(sql):
        return sorted(
            sqlpack._merge_column_lineage_edges(spark, sql, "mcat.s.mtgt")
        )

    try:
        # end-to-end: conditional update with a cross-column
        # expression, plus a positional INSERT branch
        run_statement(
            spark,
            "MERGE INTO mcat.s.mtgt t USING mlsrc s ON t.id = s.id "
            "WHEN MATCHED AND s.rate > 1 THEN "
            "UPDATE SET amount = s.amt * s.rate, tag = 'hi' "
            "WHEN NOT MATCHED THEN INSERT (id, amount) VALUES (s.id, s.amt)",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_column_name, target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'mcat.s.mtgt'
            ORDER BY target_column_name, source_column_name
            """,
        ).collect()
        # 'hi' is a literal (no edge to tag); ON/WHEN conditions are
        # filters, not value flow
        assert [tuple(r) for r in rows] == [
            ("amt", "amount"),
            ("rate", "amount"),
            ("id", "id"),
        ]
        # scanner-level shapes
        # target self-reference is recirculation, not cross-table flow
        assert edges(
            "MERGE INTO mcat.s.mtgt t USING mlsrc s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET amount = t.amount + s.amt"
        ) == [("mcat.s.mlsrc", "amt", "amount")]
        # unqualified: amt is unique to the source and attributes; id
        # exists on BOTH sides and derives nothing
        assert edges(
            "MERGE INTO mcat.s.mtgt t USING mlsrc s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET amount = amt + id"
        ) == [("mcat.s.mlsrc", "amt", "amount")]
        # UPDATE SET * / INSERT * map same-named columns (id only —
        # amount/tag don't exist on the source) — scanner level: the
        # engine's executor would refuse the column mismatch
        assert edges(
            "MERGE INTO mcat.s.mtgt t USING mlsrc s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        ) == [("mcat.s.mlsrc", "id", "id")]
        # subquery USING source: output columns expand to the real
        # table columns they derive from (the CTE/derived-table
        # virtual-source machinery), composing through expressions
        assert edges(
            "MERGE INTO mcat.s.mtgt t USING "
            "(SELECT id, amt * rate AS usd FROM mlsrc) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET amount = s.usd "
            "WHEN NOT MATCHED THEN INSERT (id, amount) "
            "VALUES (s.id, s.usd)"
        ) == [
            ("mcat.s.mlsrc", "amt", "amount"),
            ("mcat.s.mlsrc", "id", "id"),
            ("mcat.s.mlsrc", "rate", "amount"),
        ]
        # UPDATE SET * over a subquery source maps same-named columns
        # then expands them the same way
        assert edges(
            "MERGE INTO mcat.s.mtgt t USING "
            "(SELECT id, amt AS amount FROM mlsrc) s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET *"
        ) == [
            ("mcat.s.mlsrc", "amt", "amount"),
            ("mcat.s.mlsrc", "id", "id"),
        ]
        # a star BODY's output names are not derivable (same rule as
        # CTE bodies): derive nothing rather than guess widths
        assert (
            edges(
                "MERGE INTO mcat.s.mtgt t USING (SELECT * FROM mlsrc) s "
                "ON t.id = s.id WHEN MATCHED THEN UPDATE SET amount = s.amt"
            )
            == []
        )
        # a subquery reading the TARGET is recirculation: no edges
        assert (
            edges(
                "MERGE INTO mcat.s.mtgt t USING "
                "(SELECT id, amount FROM mcat.s.mtgt) s ON t.id = s.id "
                "WHEN MATCHED THEN UPDATE SET amount = s.amount"
            )
            == []
        )
        # NOT MATCHED BY SOURCE touches only target columns: no edges
        assert (
            edges(
                "MERGE INTO mcat.s.mtgt t USING mlsrc s ON t.id = s.id "
                "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'"
            )
            == []
        )
    finally:
        for nm in ("mcat.s.mtgt", "mcat.s.mlsrc"):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)


def test_repointed_views_dropped_after_statement(spark, audit_world):
    run_statement(
        spark, "GRANT ALL PRIVILEGES ON CATALOG audcat TO auditor@corp.com"
    )
    run_statement(
        spark, "SELECT count(*) AS n FROM system.access.audit"
    ).collect()
    # the materialized snapshot must not stay readable under the
    # internal view name (a later principal would bypass the gate)
    assert not spark.catalog.tableExists("engine_sys_access_audit")


def test_query_history_and_lineage_admin_gated(spark, audit_world):
    run_statement(spark, "SELECT 1 AS x").collect()
    spark.conf.set(acl.PRINCIPAL_CONF, "nosy")
    with pytest.raises(PermissionError, match="query.history"):
        run_statement(spark, "SELECT * FROM system.query.history")
    with pytest.raises(PermissionError, match="table_lineage"):
        run_statement(spark, "SELECT * FROM system.lineage.table_lineage")
    spark.conf.set(acl.PRINCIPAL_CONF, "auditor@corp.com")


def test_query_history_records_dml_rows(spark, tag_world):
    run_statement(
        spark,
        "UPDATE customers SET phone = '555-0999' WHERE customer_id = 1",
    )
    rows = run_statement(
        spark,
        "SELECT statement_text, rows_produced FROM system.query.history "
        "WHERE statement_text LIKE 'UPDATE customers%'",
    ).collect()
    assert rows and rows[-1]["rows_produced"] == 1


def test_failed_repoint_leaves_no_gated_views(spark, audit_world):
    run_statement(
        spark, "GRANT ALL PRIVILEGES ON CATALOG audcat TO auditor@corp.com"
    )
    # second system table in the statement raises AFTER the audit view
    # was created — the already-created view must be cleaned up
    with pytest.raises(NotImplementedError, match="billing"):
        run_statement(
            spark,
            "SELECT * FROM system.access.audit a "
            "JOIN system.billing.usage b ON 1 = 1",
        )
    assert not spark.catalog.tableExists("engine_sys_access_audit")


def test_denied_system_table_probe_is_audited(spark, audit_world):
    spark.conf.set(acl.PRINCIPAL_CONF, "nosy")
    with pytest.raises(PermissionError):
        run_statement(spark, "SELECT * FROM system.access.audit")
    spark.conf.set(acl.PRINCIPAL_CONF, "auditor@corp.com")
    rows = run_statement(
        spark,
        "SELECT user_identity.email AS who, "
        "request_params.full_name_arg AS what "
        "FROM system.access.audit WHERE response.status_code = 403",
    ).collect()
    assert ("nosy", "system.access.audit") in {(r.who, r.what) for r in rows}


def test_merge_rows_produced_excludes_copied_rows(spark, tag_world, tmp_path):
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "one_update"),
        df=spark.createDataFrame(
            [Row(customer_id=1, email="new@x.com", phone="555-0100")]
        ),
    )
    sqldml.register_table(spark, "tagcat.silver.one_update", t2)
    try:
        run_statement(
            spark,
            "MERGE INTO customers t USING one_update s "
            "ON t.customer_id = s.customer_id "
            "WHEN MATCHED THEN UPDATE SET t.email = s.email",
        )
        rows = run_statement(
            spark,
            "SELECT rows_produced FROM system.query.history "
            "WHERE statement_text LIKE 'MERGE INTO customers%'",
        ).collect()
        # 1 matched row updated; the other row in the rewritten file is
        # copied-unmodified and must NOT count
        assert rows[-1]["rows_produced"] == 1
    finally:
        sqldml._REGISTRY.pop(
            (session_key(spark), "tagcat.silver.one_update"), None
        )


def test_extract_from_does_not_fabricate_lineage(spark, tag_world, tmp_path):
    from databricks_delta_lake_project_spark.queries.sqlpack import (
        _lineage_sources,
    )

    # a registered table named like a column used inside EXTRACT
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "order_date"),
        df=spark.createDataFrame([Row(x=1)]),
    )
    sqldml.register_table(spark, "tagcat.silver.order_date", t2)
    try:
        srcs = _lineage_sources(
            spark,
            "INSERT INTO daily_agg SELECT extract(DAY FROM order_date) "
            "AS d, count(*) FROM customers GROUP BY 1",
        )
        assert srcs == {"tagcat.silver.customers"}
        # comma joins capture every source
        srcs2 = _lineage_sources(
            spark, "INSERT INTO t SELECT 1 FROM customers, order_date"
        )
        assert srcs2 == {
            "tagcat.silver.customers",
            "tagcat.silver.order_date",
        }
        # extract's PLURAL/short field synonyms must not read the
        # extracted expression as a table either...
        assert _lineage_sources(
            spark,
            "INSERT INTO t SELECT extract(DAYS FROM order_date) "
            "FROM customers",
        ) == {"tagcat.silver.customers"}
        assert _lineage_sources(
            spark,
            "INSERT INTO t SELECT extract(d FROM order_date) "
            "FROM customers",
        ) == {"tagcat.silver.customers"}
        # ...while a unit word ENDING an interval literal right before
        # FROM leaves it a table FROM (no opening paren precedes it)
        for lit in ("interval 7 days", "interval '7' days",
                    "interval 1 day 2 hours"):
            assert _lineage_sources(
                spark,
                f"INSERT INTO t SELECT signup_date + {lit} "
                "FROM customers",
            ) == {"tagcat.silver.customers"}
        # a select item ALIASED like a short extract synonym (d, min,
        # days) is not the extract shape either — the table edge stays
        for alias in ("d", "min", "days"):
            assert _lineage_sources(
                spark,
                f"INSERT INTO t SELECT signup_date AS {alias} "
                "FROM customers",
            ) == {"tagcat.silver.customers"}
    finally:
        sqldml._REGISTRY.pop(
            (session_key(spark), "tagcat.silver.order_date"), None
        )


def test_column_lineage_scalar_subquery_items(spark, tmp_path):
    """A scalar subquery in a select item attributes its projected
    column's REAL ancestry (virtual-source scan — the same machinery
    MERGE subquery sources use); the residual expression attributes
    its own refs alongside; correlation predicates and count(*)
    bodies contribute no extra edges; an unattributable body makes
    only THAT item derive nothing (never the others, never a
    fabrication)."""
    from databricks_delta_lake_project_spark.queries import sqlpack

    t1 = LakeTable.create(
        spark,
        str(tmp_path / "sqt"),
        df=spark.sql("SELECT 1L AS id, 2.0D AS amount"),
    )
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "sqs"),
        df=spark.sql("SELECT 1L AS k, 5.0D AS price"),
    )
    sqldml.register_table(spark, "qcat.bronze.sqt", t1)
    sqldml.register_table(spark, "qcat.bronze.sqs", t2)
    try:
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE qcat.silver.sqout AS SELECT "
            "id, "
            "(SELECT max(price) FROM sqs) AS top_price, "
            "amount * (SELECT min(price) FROM sqs WHERE k = id) AS scaled, "
            "(SELECT count(*) FROM sqs) AS n_rows, "
            "CASE WHEN id IN (SELECT k FROM sqs) THEN 1 ELSE 0 END AS flagged "
            "FROM sqt",
            "qcat.silver.sqout",
        )
        assert sorted(edges) == [
            ("qcat.bronze.sqs", "k", "flagged"),
            ("qcat.bronze.sqs", "price", "scaled"),
            ("qcat.bronze.sqs", "price", "top_price"),
            ("qcat.bronze.sqt", "amount", "scaled"),
            ("qcat.bronze.sqt", "id", "flagged"),
            ("qcat.bronze.sqt", "id", "id"),
        ]
        # an unattributable subquery body (unregistered table) kills
        # only ITS item; siblings still derive
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE qcat.silver.sq2 AS SELECT "
            "(SELECT x FROM nowhere_tbl) AS u, id AS id2 FROM sqt",
            "qcat.silver.sq2",
        )
        assert edges == [("qcat.bronze.sqt", "id", "id2")]
        # EXISTS stays function-shaped after group replacement — the
        # keyword never resolves as a column guess
        edges = sqlpack._column_lineage_edges(
            spark,
            "CREATE TABLE qcat.silver.sq3 AS SELECT "
            "EXISTS (SELECT k FROM sqs) AS has_rows FROM sqt",
            "qcat.silver.sq3",
        )
        assert edges == [("qcat.bronze.sqs", "k", "has_rows")]
        # end-to-end: the CTAS runner records the edges in
        # system.lineage.column_lineage
        run_statement(
            spark,
            f"CREATE TABLE qcat.silver.sqtgt USING delta LOCATION "
            f"'{tmp_path / 'sqtgt'}' AS SELECT "
            "id, (SELECT max(price) FROM sqs) AS top_price FROM sqt",
        )
        rows = run_statement(
            spark,
            """
            SELECT source_table_full_name, source_column_name,
                   target_column_name
            FROM system.lineage.column_lineage
            WHERE target_table_full_name = 'qcat.silver.sqtgt'
            ORDER BY target_column_name
            """,
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("qcat.bronze.sqt", "id", "id"),
            ("qcat.bronze.sqs", "price", "top_price"),
        ]
    finally:
        for nm in (
            "qcat.bronze.sqt", "qcat.bronze.sqs", "qcat.silver.sqtgt",
        ):
            sqldml._REGISTRY.pop((session_key(spark), nm), None)
