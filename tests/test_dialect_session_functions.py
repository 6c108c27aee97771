"""PG interval rendering and age() as session SQL functions.

The dialect emits one ``_gfw_*`` call per ``age(a, b)`` and per typed
``interval::text``; ``run_spark_sql`` creates the functions on first
use. These tests pin what the single definition has to hold: the
collected-value renderer agrees with it, age() subtracts wall-clock
fields in every time zone (PG's ``timestamp_age``), no body keeps the
time zone it was created under, and NULL stays NULL.
"""

from __future__ import annotations

import pytest

from gfw_data_api_spark.sql.dialect import _GFW_FUNCTIONS, run_pg_sql

_TZ = "spark.sql.session.timeZone"

# (PG interval expression, PG's interval_out text)
_INTERVALS = [
    ("'0 days'::interval", "00:00:00"),
    ("'1 day'::interval", "1 day"),
    ("'1 day ago'::interval", "-1 days"),
    ("'2 days'::interval", "2 days"),
    ("'1 second'::interval", "00:00:01"),
    ("'1 second ago'::interval", "-00:00:01"),
    ("'1.5 seconds ago'::interval", "-00:00:01.5"),
    ("make_interval(secs => 0.000001)", "00:00:00.000001"),
    ("make_interval(days => 1, secs => 0.25)", "1 day 00:00:00.25"),
    ("make_interval(hours => 23, mins => 59, secs => 59.999999)", "23:59:59.999999"),
    ("'24 hours'::interval", "1 day"),
    ("'26 hours'::interval", "1 day 02:00:00"),
    ("'49 hours 30 minutes ago'::interval", "-2 days -01:30:00"),
    ("make_interval(years => 1)", "1 year"),
    ("'1 month'::interval", "1 mon"),
    ("'1 month ago'::interval", "-1 mons"),
    ("'2 years'::interval", "2 years"),
    ("'14 months'::interval", "1 year 2 mons"),
    ("'14 months ago'::interval", "-1 years -2 mons"),
    ("'12 months ago'::interval", "-1 years"),
]


def _drop_functions(spark):
    for ddl in reversed(_GFW_FUNCTIONS):
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {ddl.split('(', 1)[0]}")


@pytest.fixture
def session_zone(spark):
    """Set the session time zone inside a test; restored after it."""
    before = spark.conf.get(_TZ)
    yield lambda tz: spark.conf.set(_TZ, tz)
    spark.conf.set(_TZ, before)


def test_sql_and_python_renderers_agree(spark):
    from gfw_data_api_spark.operators.downloads import _interval_to_pg_text

    spark.sql("SELECT 1 AS one").createOrReplaceTempView("ivgrid_t")
    cols = ", ".join(
        f"{pg} AS v{i}, ({pg})::text AS t{i}" for i, (pg, _) in enumerate(_INTERVALS)
    )
    row = run_pg_sql(spark, f"SELECT {cols} FROM ivgrid_t").collect()[0]
    got = [(row[f"t{i}"], _interval_to_pg_text(row[f"v{i}"])) for i in range(len(_INTERVALS))]
    assert got == [(want, want) for _, want in _INTERVALS]


def test_age_subtracts_fields_across_dst(spark, session_zone):
    """PG's timestamp_age subtracts wall-clock fields, so both DST days
    give 02:00:00 in New York (elapsed time there is 1 h and 3 h)."""
    sql = (
        "SELECT age(timestamp '2024-03-10 03:30', timestamp '2024-03-10 01:30') AS spring, "
        "age(timestamp '2024-11-03 02:30', timestamp '2024-11-03 00:30') AS fall, "
        "age(timestamp '2024-03-09 01:30', timestamp '2024-03-10 03:30') AS back"
    )
    for tz in ("America/New_York", "UTC"):
        session_zone(tz)
        row = run_pg_sql(spark, sql).collect()[0]
        assert (row.spring, row.fall, row.back) == (
            "02:00:00",
            "02:00:00",
            "-1 days -02:00:00",
        ), tz


def test_bodies_keep_no_creation_time_zone(spark, session_zone):
    """Spark keeps a SQL function's session settings from CREATE
    FUNCTION. Created under Sao Paulo, whose 2018-11-04 midnight did not
    exist, age() must still subtract fields when called from UTC."""
    sql = "SELECT age(timestamp '2018-11-04 03:30', timestamp '2018-11-03 12:00') AS a"
    _drop_functions(spark)
    try:
        session_zone("America/Sao_Paulo")
        assert run_pg_sql(spark, sql).collect()[0].a == "15:30:00"
        session_zone("UTC")
        assert run_pg_sql(spark, sql).collect()[0].a == "15:30:00"
    finally:
        _drop_functions(spark)


def test_null_operands_give_null(spark):
    spark.sql(
        "SELECT timestamp '2024-01-01' AS ts, CAST(NULL AS TIMESTAMP) AS nts, "
        "CAST(NULL AS INT) AS n"
    ).createOrReplaceTempView("ivnull_t")
    row = run_pg_sql(
        spark,
        "SELECT age(nts, ts) AS a, age(ts, nts) AS b, "
        "make_interval(hours => n)::text AS dt, "
        "make_interval(months => n)::text AS ym FROM ivnull_t",
    ).collect()[0]
    assert (row.a, row.b, row.dt, row.ym) == (None, None, None, None)


def test_concurrent_first_use_creates_the_set_once_for_all(spark):
    """Requests racing to create the functions on one session all see
    the whole set (creation is CREATE OR REPLACE, checked on the last)."""
    import threading

    sql = (
        "SELECT age(timestamp '2024-03-10 03:30', timestamp '2023-01-09 01:30') AS a, "
        "make_interval(hours => 26)::text AS b"
    )
    results, errors = [], []

    def request():
        try:
            results.append(tuple(run_pg_sql(spark, sql).collect()[0]))
        except Exception as e:  # noqa: BLE001 - any failure is the finding
            errors.append(repr(e))

    _drop_functions(spark)
    threads = [threading.Thread(target=request) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert results == [("1 year 2 mons 1 day 02:00:00", "1 day 02:00:00")] * 4
