"""Zonal-analysis endpoint: the raster SQL generator.

Reference: app/routes/analysis/analysis.py:95-155 — builds
``select sum(layer), ... from data [where ...] [group by ...]`` from
sum/group_by/filter layer lists with:

- TCD threshold translation: ``umd_tree_cover_density_2000__30`` →
  ``umd_tree_cover_density_2000__threshold >= 30``
- boolean/meaning filters: ``layer != 'false'``
- date-range filters bound to the first date-typed layer present
- deprecated-layer renames + ``sum(alert__count)`` → ``count(*)``
  (raster/zonal.py:_rewrite_deprecated)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from gfw_data_api_spark.catalog.registry import Registry
from gfw_data_api_spark.raster.zonal import _rewrite_deprecated, query_raster

DATE_LAYER_MARKERS = ("__date", "__isoweek")


def _date_filter(date_value: str, op: str, layers: list[str]) -> str | None:
    """Bind a start/end date to the first date-capable layer
    (analysis.py:158-183)."""
    for layer in layers:
        if layer.endswith("__date"):
            return f"{layer} {op} '{date_value}'"
        if layer.endswith("__isoweek"):
            # reference translates isoweek layers through their date layer
            base = layer.replace("__isoweek", "__date")
            return f"{base} {op} '{date_value}'"
    return None


def generate_zonal_sql(
    sum_layers: list[str],
    group_by: list[str] | None = None,
    filters: list[str] | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
    include_groups_in_select: bool = False,
) -> str:
    group_by = group_by or []
    filters = filters or []
    selectors = ",".join(f"sum({layer})" for layer in sum_layers)
    if include_groups_in_select and group_by:
        # the reference's external engine returns group columns implicitly;
        # running on Spark they must be projected explicitly
        selectors = ",".join(group_by) + "," + selectors
    groups = ",".join(group_by)

    where_clauses = []
    for layer in filters:
        if "umd_tree_cover_density" in layer:
            # ad-hoc TCD names carry the threshold in the last 2 chars
            where_clauses.append(f"{layer[:-2]}threshold >= {layer[-2:]}")
        else:
            where_clauses.append(f"{layer} != 'false'")
    if start_date:
        clause = _date_filter(start_date, ">=", group_by + filters)
        if clause:
            where_clauses.append(clause)
    if end_date:
        clause = _date_filter(end_date, "<=", group_by + filters)
        if clause:
            where_clauses.append(clause)

    sql = f"select {selectors} from data"
    if where_clauses:
        sql += f" where {' and '.join(where_clauses)}"
    if groups:
        sql += f" group by {groups}"

    return _rewrite_deprecated(sql)


def zonal_statistics(
    spark: SparkSession,
    registry: Registry,
    dataset: str,
    version: str,
    geometry: dict[str, Any],
    sum_layers: list[str],
    group_by: list[str] | None = None,
    filters: list[str] | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
) -> DataFrame:
    """/analysis/zonal endpoint: generate the dialect SQL, run the raster
    path."""
    sql = generate_zonal_sql(
        sum_layers, group_by, filters, start_date, end_date, include_groups_in_select=True
    )
    return query_raster(spark, registry, dataset, version, sql, geometry)
