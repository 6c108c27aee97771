"""Guarded single-table query execution on Spark.

The reference's query lifecycle (SURVEY.md §3.1): validate/rewrite the SQL
(pglast), then ship the string to Postgres. Here step 6 becomes
``spark.sql`` — the validated statement's FROM target is bound to a temp
view over the version's DataFrame, PG surface syntax is translated
(sql/dialect.py), and Catalyst takes over optimization (pushdown, pruning,
whole-stage codegen).

Spatial filtering (Q4) happens at the DataFrame level *before* the view is
registered: a JVM-side bbox prefilter plus the exact pandas-UDF intersects
predicate — equivalent to the reference's injected ``ST_Intersects`` but
with the cheap prune running in codegen over the whole scan.
"""

from __future__ import annotations

import json
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from gfw_data_api_spark.sql.dialect import (
    run_spark_sql,
    schema_type_categories,
    to_spark_sql,
)
from gfw_data_api_spark.sql.guard import ValidatedQuery, bind_from, validate_sql


def filter_by_geometry(
    df: DataFrame,
    geometry: dict[str, Any] | str,
    geom_col: str = "geom",
    bbox_col: str | None = "gfw_bbox",
) -> DataFrame:
    """Q4: rows intersecting the query geometry.

    bbox prefilter (native column math → codegen, prunable) then the exact
    predicate (Arrow-batched pandas UDF) only on surviving rows.
    """
    from pyspark.sql import functions as F

    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.functions.geo_udfs import (
        bbox_overlap_predicate,
        st_intersects_wkb,
    )

    geojson = json.loads(geometry) if isinstance(geometry, str) else geometry
    query_bbox = geo.bbox(geojson)
    if bbox_col and bbox_col in df.columns:
        df = df.filter(bbox_overlap_predicate(F.col(bbox_col), query_bbox))
    wkb_lit = F.lit(bytearray(geo.wkb_dumps(geojson)))
    return df.filter(st_intersects_wkb(F.col(geom_col), wkb_lit))


def _ensure_geo_functions(spark: SparkSession) -> None:
    """Register the ST_* SQL surface once per session so user SQL that
    spells out ``st_intersects(geom, st_setsrid(st_geomfromgeojson(...)))``
    (the reference's own injected form) executes verbatim. The catalog is
    the source of truth (an ``id(spark)`` cache could go stale if a
    session is recycled at the same address)."""
    if not spark.catalog.functionExists("st_intersects"):
        from gfw_data_api_spark.functions.geo_udfs import register_geo_sql_functions

        register_geo_sql_functions(spark)


def execute_on_dataframe(
    spark: SparkSession,
    df: DataFrame,
    sql: str,
    geometry: dict[str, Any] | str | None = None,
    geom_col: str = "geom",
) -> DataFrame:
    """Validate a user query and run it against a DataFrame.

    Raises QueryGuardError on any validation-matrix violation.
    """
    _ensure_geo_functions(spark)
    validated: ValidatedQuery = validate_sql(sql)
    if geometry is not None:
        df = filter_by_geometry(df, geometry, geom_col=geom_col)

    view = f"gfw_q_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        # bind_from also rebinds nested `FROM <same table>` spans (scalar
        # subqueries — the one subquery form the reference's guard admits
        # and its global-regex rewrite rebinds, query_helpers.py:112-118),
        # so those queries execute here too, with no shared-name temp
        # view and therefore no cross-request races.
        bound = bind_from(validated, view)
        # the bound table's column types switch on the schema-aware PG
        # typing rewrites (int/int div, date - date, typed int casts) —
        # the same type knowledge the reference's Postgres evaluator has
        spark_sql = to_spark_sql(bound, column_types=schema_type_categories(df.schema))
        # spark.sql analyzes eagerly, so the view may go once it returns
        return run_spark_sql(spark, spark_sql)
    finally:
        spark.catalog.dropTempView(view)
