"""Validation-matrix tests for the guarded SQL surface.

Mirrors the reference's matrix in
tests_v2/unit/app/routes/datasets/utils/test_query_helpers.py:14-197 —
same inputs, same expected outputs / error details.
"""

import pytest

from gfw_data_api_spark.sql import QueryGuardError, scrutinize_sql

DATASET = "test_dataset"
VERSION = "v2025"


def test_passes_through_benign_queries():
    sql = "SELECT * FROM test_dataset.v2025"
    assert scrutinize_sql(DATASET, VERSION, None, sql) == sql


def test_passes_through_benign_from_with_as():
    sql = "SELECT * FROM test_dataset.v2025 AS foo"
    assert scrutinize_sql(DATASET, VERSION, None, sql) == sql


def test_passes_through_benign_with_multiple_as():
    sql = "SELECT count(*) AS foo, 1 AS bar FROM test_dataset.v2025"
    assert scrutinize_sql(DATASET, VERSION, None, sql) == sql


def test_quotes_version_and_dataset_with_dots():
    sql = 'SELECT * FROM test."v1.1.1"'
    assert scrutinize_sql("test", "v.1.1.1", None, sql) == 'SELECT * FROM "test"."v.1.1.1"'


def _expect_error(sql, detail, dataset=DATASET, version=VERSION):
    with pytest.raises(QueryGuardError) as exc_info:
        scrutinize_sql(dataset, version, None, sql)
    assert exc_info.value.status_code == 400
    assert exc_info.value.detail == detail


def test_only_one_statement_allowed():
    _expect_error(
        "SELECT * FROM test_dataset.v2025; select * from something_else",
        "Must use exactly one SQL statement.",
    )


def test_only_select_statements_allowed():
    _expect_error("DELETE FROM bar;", "Must use SELECT statements only.")


def test_must_not_have_a_with_clause():
    _expect_error(
        "WITH t as (select 1) SELECT * FROM version;", "Must not have WITH clause."
    )


def test_no_sql_value_functions():
    _expect_error(
        "select current_catalog from mytable;",
        "Use of sql value functions is not allowed.",
    )


def test_only_one_table_allowed():
    _expect_error(
        "SELECT * FROM version, version2;",
        "Must list exactly one table in FROM clause.",
    )


def test_no_set_operations():
    _expect_error(
        "SELECT a FROM t1 UNION SELECT a FROM t2;",
        "Must list exactly one table in FROM clause.",
    )


def test_no_sub_queries_allowed():
    _expect_error(
        "SELECT * FROM (select * from a) as b;", "Must not use sub queries."
    )


def test_no_joins_allowed():
    _expect_error(
        "SELECT * FROM a JOIN b ON a.id = b.id;", "Unexpected FROM clause structure."
    )


def test_no_postgis_functions_allowed():
    _expect_error(
        "SELECT PostGIS_Full_Version() FROM data;",
        "Use of admin, system or private functions is not allowed.",
    )


def test_no_admin_functions_allowed():
    _expect_error(
        "SELECT pg_create_restore_point() FROM data;",
        "Use of admin, system or private functions is not allowed.",
    )


def test_no_sys_functions_allowed():
    _expect_error(
        "SELECT txid_current() from mytable;",
        "Use of admin, system or private functions is not allowed.",
    )


def test_forbidden_not_allowed():
    _expect_error(
        "SELECT current_setting() FROM mytable;",
        "Use of admin, system or private functions is not allowed.",
    )


def test_private_underscore_functions_blocked():
    _expect_error(
        "SELECT _secret_fn(x) FROM mytable;",
        "Use of admin, system or private functions is not allowed.",
    )


def test_with_geom():
    geometry = {"type": "Point", "coordinates": [0, 0]}
    sql_in = "SELECT * FROM mytable WHERE id = 1"
    expected = (
        "SELECT * FROM test_dataset.v2025 WHERE id = 1 AND "
        "st_intersects(geom, st_setsrid(st_geomfromgeojson("
        """'{"type": "Point", "coordinates": [0, 0]}'), 4326))"""
    )
    assert scrutinize_sql(DATASET, VERSION, geometry, sql_in) == expected


def test_with_geom_no_where():
    geometry = {"type": "Point", "coordinates": [0, 0]}
    sql_in = "SELECT * FROM mytable;"
    expected = (
        "SELECT * FROM test_dataset.v2025 WHERE "
        "st_intersects(geom, st_setsrid(st_geomfromgeojson("
        """'{"type": "Point", "coordinates": [0, 0]}'), 4326))"""
    )
    assert scrutinize_sql(DATASET, VERSION, geometry, sql_in) == expected


def test_with_geom_and_tail_clauses():
    geometry = {"type": "Point", "coordinates": [0, 0]}
    sql_in = "SELECT iso, count(*) AS cnt FROM mytable WHERE x > 3 GROUP BY iso ORDER BY iso LIMIT 5"
    result = scrutinize_sql(DATASET, VERSION, geometry, sql_in)
    assert "WHERE x > 3 AND st_intersects(geom," in result
    assert result.endswith("GROUP BY iso ORDER BY iso LIMIT 5")
    assert "FROM test_dataset.v2025 WHERE" in result


def test_with_geom_parenthesizes_top_level_or():
    geometry = {"type": "Point", "coordinates": [0, 0]}
    sql_in = "SELECT * FROM t WHERE a = 1 OR b = 2"
    result = scrutinize_sql(DATASET, VERSION, geometry, sql_in)
    assert "WHERE (a = 1 OR b = 2) AND st_intersects(geom," in result


def test_gibberish():
    _expect_error("foo;", 'syntax error at or near "foo", at index 0')


def test_replaces_from_clause_when_column_and_table_are_aliased():
    sql = "SELECT country AS name FROM table_1_whatever AS fao"
    expected = "SELECT country AS name FROM test_dataset.v2025 AS fao"
    assert scrutinize_sql(DATASET, VERSION, None, sql) == expected


def test_benign_scalar_and_aggregate_functions_pass():
    sql = (
        "SELECT lower(name) AS lname, sum(val) AS s, count(*) AS cnt "
        "FROM test_dataset.v2025 WHERE val BETWEEN 1 AND 10 GROUP BY lower(name) "
        "HAVING count(*) > 1 ORDER BY cnt DESC LIMIT 10"
    )
    assert scrutinize_sql(DATASET, VERSION, None, sql) == sql


def test_window_functions_pass():
    sql = (
        "SELECT id, row_number() OVER (PARTITION BY grp ORDER BY id) AS rn "
        "FROM test_dataset.v2025"
    )
    assert scrutinize_sql(DATASET, VERSION, None, sql) == sql


def test_st_functions_pass():
    # only postgis*-prefixed names are blocked; ST_* passes (query_helpers.py:126-131)
    sql = "SELECT ST_AsGeoJSON(geom) AS gj FROM test_dataset.v2025"
    assert scrutinize_sql(DATASET, VERSION, None, sql) == sql


def test_url_encoded_sql_is_unquoted():
    sql = "SELECT%20*%20FROM%20test_dataset.v2025"
    assert scrutinize_sql(DATASET, VERSION, None, sql) == "SELECT * FROM test_dataset.v2025"


def test_from_rewrite_keyword_prefixed_columns():
    """Regression (hypothesis-found): a WHERE column spelled like a clause
    keyword prefix (`on_`, `where_x`) must not derail the FROM rewrite."""
    from gfw_data_api_spark.sql.guard import scrutinize_sql

    out = scrutinize_sql("ds", "v1", None, "SELECT a FROM t WHERE on_ = 0")
    assert "FROM ds.v1" in out and "WHERE on_ = 0" in out
    out2 = scrutinize_sql("ds", "v1", None, "SELECT a FROM t WHERE where_x > 1")
    assert "FROM ds.v1" in out2 and "WHERE where_x > 1" in out2
    # alias named like a keyword-prefixed identifier still works
    out3 = scrutinize_sql("ds", "v1", None, "SELECT ont.a FROM t AS ont WHERE ont.a = 1")
    assert "FROM ds.v1 AS ont" in out3


def test_literal_contract_is_injection_safe(spark):
    """Quote- and backslash-bearing literals are respelled for Spark's
    default parser (quotes and backslashes doubled). The respelling
    must never re-open a string: hostile values that LOOK like SQL
    stay data."""
    from gfw_data_api_spark.sql.dialect import run_pg_sql, to_spark_sql

    hostile = [
        "'; DROP TABLE x; --",
        "\\'; SELECT 1; --",
        "a''b'); DROP TABLE y; --",
        "\\",
    ]
    for payload in hostile:
        lit = payload.replace("'", "''")  # PG spelling of the value
        out = run_pg_sql(spark, f"SELECT '{lit}' AS v").collect()
        assert len(out) == 1 and out[0].v == payload, payload
    # the PG value a'b\ is written as Spark's 'a''b\\'
    assert to_spark_sql("SELECT 'a''b\\' AS v") == "SELECT 'a''b\\\\' AS v"
