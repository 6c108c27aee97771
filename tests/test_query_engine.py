"""Guarded query execution against Spark (reference: the query-route tests
in tests_v2/unit/app/routes/datasets/test_query.py — count/sum queries,
forbidden constructs, spatial filter)."""

import pytest

from gfw_data_api_spark.operators.query import execute_on_dataframe, filter_by_geometry
from gfw_data_api_spark.sources.tabular import load_table
from gfw_data_api_spark.sql import QueryGuardError


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


def test_count_star(spark, lineitem):
    rows = execute_on_dataframe(
        spark, lineitem, "SELECT count(*) AS count FROM data"
    ).collect()
    assert rows[0]["count"] == lineitem.count()


def test_result_runs_after_its_view_is_dropped(spark, lineitem):
    """``spark.sql`` analyzes eagerly: the request's ``gfw_q_*`` view is
    gone once ``execute_on_dataframe`` returns, and the result still
    collects."""
    result = execute_on_dataframe(
        spark, lineitem, "SELECT l_returnflag, count(*) AS n FROM data GROUP BY l_returnflag"
    )
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("gfw_q_")]
    assert sum(r.n for r in result.collect()) == lineitem.count()


def test_filter_group_order_limit(spark, lineitem):
    sql = (
        "SELECT l_returnflag, count(*) AS cnt, sum(l_quantity) AS qty "
        "FROM mytable WHERE l_quantity > 10 "
        "GROUP BY l_returnflag ORDER BY l_returnflag LIMIT 2"
    )
    rows = execute_on_dataframe(spark, lineitem, sql).collect()
    assert len(rows) == 2
    assert rows[0]["l_returnflag"] <= rows[1]["l_returnflag"]
    assert all(r["cnt"] > 0 for r in rows)


def test_pg_cast_translation(spark, lineitem):
    sql = "SELECT l_orderkey::text AS ok, l_quantity::int AS qi FROM t LIMIT 1"
    row = execute_on_dataframe(spark, lineitem, sql).collect()[0]
    assert isinstance(row["ok"], str)
    assert isinstance(row["qi"], int)


def test_window_function(spark, lineitem):
    sql = (
        "SELECT l_orderkey, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn "
        "FROM t LIMIT 5"
    )
    rows = execute_on_dataframe(spark, lineitem, sql).collect()
    assert all(r["rn"] >= 1 for r in rows)


def test_forbidden_function_rejected(spark, lineitem):
    with pytest.raises(QueryGuardError):
        execute_on_dataframe(spark, lineitem, "SELECT pg_ls_dir('/') FROM t")


def test_join_rejected(spark, lineitem):
    with pytest.raises(QueryGuardError):
        execute_on_dataframe(spark, lineitem, "SELECT * FROM a JOIN b ON a.x = b.x")


def test_spatial_filter_on_points(spark):
    import pandas as pd

    from gfw_data_api_spark.functions import geometry as geo

    pts = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "geom": [
                geo.wkb_dumps({"type": "Point", "coordinates": [0.5, 0.5]}),
                geo.wkb_dumps({"type": "Point", "coordinates": [5.0, 5.0]}),
                geo.wkb_dumps({"type": "Point", "coordinates": [0.9, 0.1]}),
            ],
            "gfw_bbox": [[0.5, 0.5, 0.5, 0.5], [5.0, 5.0, 5.0, 5.0], [0.9, 0.1, 0.9, 0.1]],
        }
    )
    df = spark.createDataFrame(pts)
    square = {
        "type": "Polygon",
        "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
    }
    result = filter_by_geometry(df, square)
    assert sorted(r["id"] for r in result.collect()) == [1, 3]


def test_guarded_sql_with_geometry(spark):
    """End-to-end: guarded query + geometry → filtered aggregation."""
    import pandas as pd

    from gfw_data_api_spark.functions import geometry as geo

    pts = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "val": [10.0, 20.0, 30.0, 40.0],
            "geom": [
                geo.wkb_dumps({"type": "Point", "coordinates": [0.1, 0.1]}),
                geo.wkb_dumps({"type": "Point", "coordinates": [0.2, 0.2]}),
                geo.wkb_dumps({"type": "Point", "coordinates": [9.0, 9.0]}),
                geo.wkb_dumps({"type": "Point", "coordinates": [0.3, 0.3]}),
            ],
        }
    )
    df = spark.createDataFrame(pts)
    square = {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}
    rows = execute_on_dataframe(
        spark, df, "SELECT sum(val) AS s, count(*) AS c FROM data", geometry=square
    ).collect()
    assert rows[0]["s"] == 70.0 and rows[0]["c"] == 3


def test_sql_text_spatial_predicate(spark):
    """User SQL spelling out the reference's injected ST_* form executes
    verbatim (registered SQL UDFs + bbox-free exact path)."""
    import pandas as pd

    from gfw_data_api_spark.functions import geometry as geo

    pts = pd.DataFrame(
        {
            "id": [1, 2],
            "geom": [
                geo.wkb_dumps({"type": "Point", "coordinates": [0.5, 0.5]}),
                geo.wkb_dumps({"type": "Point", "coordinates": [9.0, 9.0]}),
            ],
        }
    )
    df = spark.createDataFrame(pts)
    sql = (
        "SELECT id FROM data WHERE st_intersects(geom, st_setsrid(st_geomfromgeojson("
        "'{\"type\": \"Polygon\", \"coordinates\": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}'"
        "), 4326))"
    )
    rows = execute_on_dataframe(spark, df, sql).collect()
    assert [r["id"] for r in rows] == [1]


def test_st_asgeojson_in_sql(spark):
    import pandas as pd

    from gfw_data_api_spark.functions import geometry as geo

    df = spark.createDataFrame(
        pd.DataFrame({"id": [1], "geom": [geo.wkb_dumps({"type": "Point", "coordinates": [3.0, 4.0]})]})
    )
    rows = execute_on_dataframe(
        spark, df, "SELECT st_asgeojson(geom) AS gj, st_area_ha(geom) AS a FROM data"
    ).collect()
    import json

    assert json.loads(rows[0]["gj"]) == {"type": "Point", "coordinates": [3.0, 4.0]}
    assert rows[0]["a"] == 0.0


def test_fetch_first_translation_unit():
    from gfw_data_api_spark.sql.dialect import translate_fetch_first

    assert (
        translate_fetch_first("SELECT a FROM t ORDER BY a FETCH FIRST 5 ROWS ONLY")
        == "SELECT a FROM t ORDER BY a LIMIT 5"
    )
    assert (
        translate_fetch_first("SELECT a FROM t OFFSET 10 FETCH NEXT 5 ROWS ONLY")
        == "SELECT a FROM t LIMIT 5 OFFSET 10"
    )
    assert (
        translate_fetch_first("SELECT a FROM t ORDER BY a FETCH FIRST ROW ONLY")
        == "SELECT a FROM t ORDER BY a LIMIT 1"
    )
    assert (
        translate_fetch_first("SELECT a FROM t OFFSET 3 ROWS")
        == "SELECT a FROM t OFFSET 3"
    )
    # text inside string literals is untouched
    sql = "SELECT 'FETCH FIRST 5 ROWS ONLY' AS s FROM t"
    assert translate_fetch_first(sql) == sql


def test_fetch_first_through_guarded_path(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders")
    out = execute_on_dataframe(
        spark,
        df,
        "SELECT o_orderkey FROM data ORDER BY o_orderkey "
        "OFFSET 5 ROWS FETCH FIRST 3 ROWS ONLY",
    )
    keys = [r["o_orderkey"] for r in out.collect()]
    want = [
        r["o_orderkey"]
        for r in df.orderBy("o_orderkey").limit(8).collect()
    ][5:]
    assert keys == want


def test_scalar_subquery_over_same_table(spark, lineitem):
    """Reference parity: _no_subqueries rejects only FROM-clause
    subselects (query_helpers.py:112-118), and the reference's global
    regex rebinds the inner FROM too — so scalar subqueries over the
    query table validate AND execute."""
    from gfw_data_api_spark.operators.query import execute_on_dataframe

    out = execute_on_dataframe(
        spark,
        lineitem,
        "SELECT count(*) AS n FROM data "
        "WHERE l_quantity = (SELECT max(l_quantity) FROM data)",
    ).collect()
    max_q = lineitem.agg({"l_quantity": "max"}).collect()[0][0]
    expect = lineitem.filter(lineitem.l_quantity == max_q).count()
    assert out[0].n == expect

    row = execute_on_dataframe(
        spark,
        lineitem,
        "SELECT (SELECT max(l_quantity) FROM data) AS m FROM data LIMIT 1",
    ).collect()
    assert row[0].m == max_q


def test_scalar_subquery_binds_like_reference_not_session_views(spark, lineitem):
    """The nested FROM is rebound by SPAN to the bound frame (mirroring
    the reference's global regex rewrite) — a session temp view that
    happens to share the table name is neither consulted nor touched,
    and `from data` inside a string literal is immune (it is a STRING
    token, which the span pass cannot capture — the reference's regex
    would corrupt it)."""
    from gfw_data_api_spark.operators.query import execute_on_dataframe

    max_q = lineitem.agg({"l_quantity": "max"}).collect()[0][0]
    spark.createDataFrame([(123,)], "l_quantity long").createOrReplaceTempView("data")
    try:
        row = execute_on_dataframe(
            spark,
            lineitem,
            "SELECT (SELECT max(l_quantity) FROM data) AS m FROM data LIMIT 1",
        ).collect()
        assert row[0].m == max_q  # the bound frame, NOT the session view
        assert spark.catalog.tableExists("data")  # untouched afterwards
    finally:
        spark.catalog.dropTempView("data")

    lit = execute_on_dataframe(
        spark,
        lineitem,
        "SELECT 'select x from data' AS s FROM data LIMIT 1",
    ).collect()
    assert lit[0].s == "select x from data"
