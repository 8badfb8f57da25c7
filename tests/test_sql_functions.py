"""SQL scalar UDFs + column masks (U1/U2 SQL tail): the reference's
``CREATE OR REPLACE FUNCTION ... RETURN CASE WHEN
IS_ACCOUNT_GROUP_MEMBER(...) ...`` masking functions
(``governance/access_control.py:105-143``) created through
``run_statement`` and bound with ``ALTER TABLE ... ALTER COLUMN ...
SET MASK`` onto the engine's secured-view layer."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from databricks_delta_lake_project_spark.functions.masking import (
    GROUPS_CONF_KEY,
)
from databricks_delta_lake_project_spark.queries import sqlpack
from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.session import session_key
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml

MASK_EMAIL_DDL = """
CREATE OR REPLACE FUNCTION fncat.gold.mask_email(email STRING)
RETURNS STRING
RETURN
    CASE
        WHEN IS_ACCOUNT_GROUP_MEMBER('pii_authorized')
        THEN email
        ELSE CONCAT(LEFT(email, 2), '***@', SPLIT(email, '@')[1])
    END
"""

MASK_PHONE_DDL = """
CREATE OR REPLACE FUNCTION fncat.gold.mask_phone(phone STRING)
RETURNS STRING
RETURN
    CASE
        WHEN IS_ACCOUNT_GROUP_MEMBER('pii_authorized')
        THEN phone
        ELSE CONCAT('***-***-', RIGHT(phone, 4))
    END
"""


@pytest.fixture()
def fn_world(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "fn_customers"),
        df=spark.createDataFrame(
            [
                Row(customer_id=1, email="alice@x.com", phone="555-0100"),
                Row(customer_id=2, email="bob@y.org", phone="555-0101"),
            ]
        ),
    )
    sqldml.register_table(spark, "fncat.silver.fn_customers", t)
    yield t
    sqldml._REGISTRY.pop(
        (session_key(spark), "fncat.silver.fn_customers"), None
    )
    sqlpack._FUNCS.pop(session_key(spark), None)
    sqldml._MASKED_SESSIONS.discard(session_key(spark))
    try:
        spark.conf.unset(GROUPS_CONF_KEY)
    except Exception:
        pass


def test_create_function_and_full_name_call(spark, fn_world):
    run_statement(spark, MASK_EMAIL_DDL)
    # later statements may call the function by its full UC name
    out = run_statement(
        spark,
        "SELECT fncat.gold.mask_email('alice@x.com') AS e",
    ).collect()[0]["e"]
    assert out == "al***@x.com"
    spark.conf.set(GROUPS_CONF_KEY, "pii_authorized")
    out = run_statement(
        spark,
        "SELECT fncat.gold.mask_email('alice@x.com') AS e",
    ).collect()[0]["e"]
    assert out == "alice@x.com"
    spark.conf.unset(GROUPS_CONF_KEY)


def test_set_mask_secures_the_view(spark, fn_world):
    run_statement(spark, MASK_EMAIL_DDL)
    run_statement(spark, MASK_PHONE_DDL)
    run_statement(
        spark,
        "ALTER TABLE fncat.silver.fn_customers "
        "ALTER COLUMN email SET MASK fncat.gold.mask_email",
    )
    run_statement(
        spark,
        "ALTER TABLE fncat.silver.fn_customers "
        "ALTER COLUMN phone SET MASK fncat.gold.mask_phone",
    )
    assert fn_world.column_masks() == {
        "email": "mask_email",
        "phone": "mask_phone",
    }
    rows = run_statement(
        spark,
        "SELECT email, phone FROM fn_customers ORDER BY customer_id",
    ).collect()
    assert [(r.email, r.phone) for r in rows] == [
        ("al***@x.com", "***-***-0100"),
        ("bo***@y.org", "***-***-0101"),
    ]
    # privileged group sees raw values through the SAME view
    spark.conf.set(GROUPS_CONF_KEY, "pii_authorized")
    rows = run_statement(
        spark,
        "SELECT email, phone FROM fn_customers ORDER BY customer_id",
    ).collect()
    assert rows[0].email == "alice@x.com" and rows[0].phone == "555-0100"
    spark.conf.unset(GROUPS_CONF_KEY)

    # DROP MASK restores one column, keeps the other masked
    run_statement(
        spark,
        "ALTER TABLE fncat.silver.fn_customers "
        "ALTER COLUMN email DROP MASK",
    )
    rows = run_statement(
        spark,
        "SELECT email, phone FROM fn_customers ORDER BY customer_id",
    ).collect()
    assert rows[0].email == "alice@x.com"
    assert rows[0].phone == "***-***-0100"


def test_set_mask_requires_existing_function(spark, fn_world):
    with pytest.raises(ValueError, match="not defined"):
        run_statement(
            spark,
            "ALTER TABLE fn_customers ALTER COLUMN email "
            "SET MASK fncat.gold.no_such_fn",
        )


def test_masked_scan_stays_jvm_side(spark, fn_world):
    """The mask function and the group-membership check are SQL UDFs
    the analyzer inlines — a masked SELECT must contain NO
    BatchEvalPython (whole-stage codegen keeps the 100 TB scan on the
    fast path)."""
    run_statement(spark, MASK_EMAIL_DDL)
    run_statement(
        spark,
        "ALTER TABLE fn_customers ALTER COLUMN email "
        "SET MASK fncat.gold.mask_email",
    )
    df = run_statement(spark, "SELECT email FROM fn_customers")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


def test_api_reads_stay_raw(spark, fn_world):
    """API DataFrame access is the storage-credential trust boundary —
    masks bind to the secured VIEW only."""
    run_statement(spark, MASK_EMAIL_DDL)
    run_statement(
        spark,
        "ALTER TABLE fn_customers ALTER COLUMN email "
        "SET MASK fncat.gold.mask_email",
    )
    raw = {r.email for r in fn_world.to_df().collect()}
    assert raw == {"alice@x.com", "bob@y.org"}


def test_create_function_if_not_exists_is_idempotent(spark, fn_world):
    ddl = (
        "CREATE FUNCTION IF NOT EXISTS fncat.gold.fn_ine(x STRING) "
        "RETURNS STRING RETURN UPPER(x)"
    )
    run_statement(spark, ddl)
    assert (
        run_statement(spark, "SELECT fncat.gold.fn_ine('a') AS v").collect()[
            0
        ]["v"]
        == "A"
    )
    # second run must neither fail (TEMPORARY + IF NOT EXISTS is
    # invalid Spark grammar) nor replace the function
    out = run_statement(spark, ddl).collect()[0]
    assert out["created"] is False


def test_missing_mask_function_fails_closed_not_bricked(spark, fn_world):
    import re as _re

    from databricks_delta_lake_project_spark.tables.sqldml import (
        _OWNED_VIEWS,
    )

    run_statement(spark, MASK_EMAIL_DDL)
    run_statement(
        spark,
        "ALTER TABLE fn_customers ALTER COLUMN email "
        "SET MASK fncat.gold.mask_email",
    )
    # simulate a fresh session where the TEMPORARY function is gone
    # and no view has been synced yet
    spark.sql("DROP TEMPORARY FUNCTION mask_email")
    spark.catalog.dropTempView("fn_customers")
    _OWNED_VIEWS.clear()
    # other statements still work (the session is not bricked) ...
    assert run_statement(spark, "SELECT 1 AS one").collect()[0]["one"] == 1
    # ... and the masked table fails CLOSED: no view serving raw rows
    with pytest.raises(Exception, match=_re.compile("fn_customers", _re.I)):
        run_statement(spark, "SELECT email FROM fn_customers").collect()
    # re-creating the function through the engine heals the table
    run_statement(spark, MASK_EMAIL_DDL)
    rows = run_statement(
        spark, "SELECT email FROM fn_customers ORDER BY email"
    ).collect()
    assert rows[0]["email"] == "al***@x.com"


def test_basename_clash_across_catalogs_refused(spark, fn_world):
    run_statement(
        spark,
        "CREATE OR REPLACE FUNCTION cat1.gold.fn_clash(x STRING) "
        "RETURNS STRING RETURN LOWER(x)",
    )
    with pytest.raises(ValueError, match="already bound"):
        run_statement(
            spark,
            "CREATE OR REPLACE FUNCTION cat2.gold.fn_clash(x STRING) "
            "RETURNS STRING RETURN UPPER(x)",
        )


def test_full_name_repoint_is_quote_aware_and_boundary_guarded(
    spark, fn_world
):
    """The full-name -> basename re-point must not rewrite occurrences
    inside string literals, and must not suffix-match a LONGER dotted
    name (`xcat.gold.fn(` / `other.fncat.gold.fn(`)."""
    run_statement(spark, MASK_EMAIL_DDL)
    # a string literal containing `name(` survives verbatim
    row = run_statement(
        spark,
        "SELECT 'call fncat.gold.mask_email(x) later' AS note",
    ).collect()[0]
    assert row["note"] == "call fncat.gold.mask_email(x) later"
    # a longer dotted name is NOT captured by the suffix: the untouched
    # full name surfaces in the resolver error
    # (Spark reports the multi-part namespace `other`.`fncat`.`gold`
    # unresolved — proof the longer name was left untouched)
    with pytest.raises(Exception, match="`other`|UNRESOLVED"):
        run_statement(
            spark, "SELECT other.fncat.gold.mask_email('a@b.com')"
        ).collect()
    # the real full-name call still re-points and runs
    got = run_statement(
        spark, "SELECT fncat.gold.mask_email('john.doe@x.io') AS m"
    ).collect()[0]["m"]
    assert got == "jo***@x.io"


def test_comment_prefixed_create_function_persists(spark, tmp_path):
    """A leading comment must not hide CREATE FUNCTION from the
    durable registry: the session binding and the durable record
    succeed or fail TOGETHER."""
    from databricks_delta_lake_project_spark.governance import (
        catalog_registry as creg,
    )
    from databricks_delta_lake_project_spark.session import session_key

    path = str(tmp_path / "fnreg")
    spark.conf.set(creg.PATH_CONF, path)
    try:
        run_statement(
            spark,
            "/* owner: data-eng */ CREATE FUNCTION main.util.add_two("
            "x INT) RETURNS INT RETURN x + 2",
        )
        assert (
            run_statement(
                spark, "SELECT main.util.add_two(40) AS v"
            ).collect()[0]["v"]
            == 42
        )
        # fresh session: the durable row replays the binding
        sid = session_key(spark)
        from databricks_delta_lake_project_spark.queries import sqlpack

        base = sqlpack._FUNCS.get(sid, {}).pop("main.util.add_two")
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {base}")
        creg._LOADED.clear()
        assert (
            run_statement(
                spark, "SELECT main.util.add_two(5) AS v"
            ).collect()[0]["v"]
            == 7
        )
    finally:
        spark.conf.unset(creg.PATH_CONF)
