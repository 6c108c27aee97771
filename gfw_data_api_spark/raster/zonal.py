"""OTF zonal statistics: the raster query path (SURVEY.md §2.4, §3.2).

The reference ships ``{query, geometry, environment}`` to a Lambda fleet
(queries.py:548-625). Here the same contract runs as one Spark job:

1. guard-validate the SQL (same matrix as the table path) and enforce the
   geometry contract: Polygon/MultiPolygon only (queries.py:562-566),
   area ≤ GEOSTORE_SIZE_LIMIT_OTF (queries.py:557-561, globals.py:157-160);
2. rewrite FROM → the default layer (queries.py:571, 628-651);
3. prune: geometry bbox → overlapping tile ids (driver-side grid math)
   → ``tile_id IN (...)`` hits parquet partition pruning;
4. assemble only the layers the query references (column pruning by
   construction): base = default layer's source pixels, others left-join
   on (tile_id, pixel_id);
5. mask by geometry — tiles fully inside skip the exact test entirely;
   edge tiles run a bbox prefilter natively then the exact
   point-in-polygon pandas UDF on surviving pixel centers;
6. attach reserved columns (latitude/longitude/area__ha — native math)
   and derived-layer columns (built-in calcs translate to native
   expressions; arbitrary NumPy calc falls back to a sandboxed eval in a
   pandas UDF, the reference's own pattern, SURVEY §2.6);
7. ``spark.sql`` over the assembled view.
"""

from __future__ import annotations

import re
import uuid
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gfw_data_api_spark.catalog.registry import Registry
from gfw_data_api_spark.functions import geometry as geo
from gfw_data_api_spark.raster.data_environment import DataEnvironment, build_data_environment
from gfw_data_api_spark.raster.grid import Grid
from gfw_data_api_spark.raster.layers import (
    DATE_CONF_EPOCH,
    DerivedLayer,
    SourceLayer,
    default_layer_name,
)
from gfw_data_api_spark.raster.pixels import with_pixel_coordinates
from gfw_data_api_spark.sql.dialect import run_spark_sql, to_spark_sql
from gfw_data_api_spark.sql.guard import QueryGuardError, ValidatedQuery, bind_from, validate_sql

# default OTF area cap, hectares (app/settings/globals.py:157-160)
GEOSTORE_SIZE_LIMIT_OTF = 1_000_000_000.0

RESERVED_COLUMNS = {"area__ha", "latitude", "longitude"}


def _check_geometry(geometry: dict[str, Any]) -> None:
    if geometry.get("type") not in ("Polygon", "MultiPolygon"):
        raise QueryGuardError(
            "Geostore must be a Polygon or MultiPolygon for raster analysis", 422
        )
    area_ha = geo.geodesic_area_ha(geometry)
    if area_ha > GEOSTORE_SIZE_LIMIT_OTF:
        raise QueryGuardError(
            f"Geostore area exceeds limit of {GEOSTORE_SIZE_LIMIT_OTF} ha "
            f"for raster analysis ({area_ha:.0f} ha)",
            400,
        )


def _referenced_layers(sql: str, env: DataEnvironment) -> list[str]:
    """Column pruning: only layers whose names appear in the query text are
    materialized into the pixel view.

    Matched per layer with word-ish boundaries (a following ``-`` is a
    boundary so ``layer-2000`` — unspaced subtraction — still references
    ``layer``, while density names ending ``_ha-1`` match exactly)."""
    out = []
    for name in env.layer_map():
        pattern = rf"(?<![A-Za-z0-9_]){re.escape(name)}(?![A-Za-z0-9_])"
        if re.search(pattern, sql):
            out.append(name)
    return out


def _rewrite_deprecated(sql: str) -> str:
    """Deprecated-layer renames + count rewrite (analysis.py:141-147)."""
    sql = sql.replace("umd_glad_alerts__isoweek", "isoweek(umd_glad_landsat_alerts__date)")
    sql = sql.replace("umd_glad_alerts__date", "umd_glad_landsat_alerts__date")
    sql = sql.replace("sum(alert__count)", "count(*)")
    return sql


def validate_raster_sql(sql: str) -> ValidatedQuery:
    """The guard for raster SQL: deprecated layer names rewritten, PG's
    ``isoweek(`` spelled as Spark's ``weekofyear(``, then ``validate_sql``."""
    sql = re.sub(r"isoweek\(", "weekofyear(", _rewrite_deprecated(sql))
    return validate_sql(sql)


def _calc_column(calc: str, source: Column, area: Column) -> Column:
    """Translate a DerivedLayer calc to a native column expression when it
    is one of the built-in shapes; otherwise evaluate the NumPy expression
    in an Arrow-batched pandas UDF (the reference's own eval pattern)."""
    normalized = re.sub(r"\.astype\((?:'[^']*'|uint8|uint16)\)", "", calc).strip()
    if normalized == "A % 10000":
        return source % F.lit(10000)
    if normalized == "floor(A / 10000)":
        return F.floor(source / F.lit(10000)).cast("double")
    if normalized == "A * area":
        return source * area
    match = re.fullmatch(r"A \* area \* \(([\d\.\s*+/\-]+)\)", normalized)
    if match:
        factor = eval(match.group(1), {"__builtins__": {}})  # noqa: S307 — numeric literal
        return source * area * F.lit(float(factor))

    @F.pandas_udf(T.DoubleType())
    def numpy_calc(a: pd.Series, area_s: pd.Series) -> pd.Series:
        namespace = {
            "A": a.to_numpy(dtype=np.float64),
            "area": area_s.to_numpy(dtype=np.float64),
            "np": np,
            "floor": np.floor,
            "datetime64": np.datetime64,
            "uint8": np.uint8,
            "uint16": np.uint16,
        }
        result = eval(calc, {"__builtins__": {}}, namespace)  # noqa: S307 — sandboxed, reference parity
        return pd.Series(np.asarray(result, dtype=np.float64))

    return numpy_calc(source, area)


def _decode_column(layer: DerivedLayer, col: Column) -> Column:
    """Apply date decoding / value-table (meaning) decoding."""
    if layer.decode_as_date:
        return F.date_format(
            F.date_add(F.to_date(F.lit(DATE_CONF_EPOCH)), col.cast("int")), "yyyy-MM-dd"
        )
    if layer.raster_table is not None:
        expr = None
        for row in layer.raster_table.rows:
            cond = col.cast("int") == F.lit(row.value)
            expr = F.when(cond, row.meaning) if expr is None else expr.when(cond, row.meaning)
        default = layer.raster_table.default_meaning
        return expr.otherwise(F.lit(default)) if expr is not None else F.lit(default)
    return col


def _geometry_mask(df: DataFrame, geometry: dict[str, Any], grid: Grid, tiles: list[str]) -> DataFrame:
    """R9 rasterization mask over pixel centers, with a full-tile fast path.

    Tile classification is vectorized: geometry segments/vertices are
    staged once as arrays, each tile prefilters by segment-bbox overlap
    (NumPy), and the exact segment tests run only on the few candidates —
    a country-scale MultiPolygon over hundreds of tiles stays near-linear
    instead of O(tiles × vertices) Python loops."""
    gbox = geo.bbox(geometry)
    segments = list(geo._segments(geometry))
    if segments:
        seg_arr = np.asarray(
            [[s[0][0], s[0][1], s[1][0], s[1][1]] for s in segments], dtype=np.float64
        )
        seg_xmin = np.minimum(seg_arr[:, 0], seg_arr[:, 2])
        seg_xmax = np.maximum(seg_arr[:, 0], seg_arr[:, 2])
        seg_ymin = np.minimum(seg_arr[:, 1], seg_arr[:, 3])
        seg_ymax = np.maximum(seg_arr[:, 1], seg_arr[:, 3])
    verts = np.asarray(list(geo._iter_points(geometry)), dtype=np.float64)

    full, partial = [], []
    for tile_id in tiles:
        lat_nw, lon_nw = Grid.parse_tile_id(tile_id)
        x0, x1 = lon_nw, lon_nw + grid.tile_deg
        y0, y1 = lat_nw - grid.tile_deg, lat_nw
        corners = [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
        tile_edges = list(zip(corners, corners[1:] + corners[:1]))

        corners_inside = all(
            any(geo.point_in_polygon(c, poly) for poly in geo._polygons_of(geometry))
            for c in corners
        )
        crosses = False
        if corners_inside and segments:
            candidates = np.nonzero(
                (seg_xmin <= x1) & (seg_xmax >= x0) & (seg_ymin <= y1) & (seg_ymax >= y0)
            )[0]
            crosses = any(
                geo._seg_intersect(e[0], e[1], segments[k][0], segments[k][1])
                for k in candidates
                for e in tile_edges
            )
        # a hole (or island boundary) lying wholly inside the tile never
        # touches the tile edges — any geometry vertex interior to the
        # tile disqualifies the full-tile shortcut
        vertex_inside = bool(
            corners_inside
            and len(verts)
            and np.any(
                (verts[:, 0] > x0) & (verts[:, 0] < x1) & (verts[:, 1] > y0) & (verts[:, 1] < y1)
            )
        )
        is_full = corners_inside and not crosses and not vertex_inside
        (full if is_full else partial).append(tile_id)

    in_bbox = (
        (F.col("longitude") >= F.lit(gbox[0]))
        & (F.col("longitude") <= F.lit(gbox[2]))
        & (F.col("latitude") >= F.lit(gbox[1]))
        & (F.col("latitude") <= F.lit(gbox[3]))
    )

    @F.pandas_udf(T.BooleanType())
    def pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        polys = list(geo._polygons_of(geometry))
        return pd.Series(
            [any(geo.point_in_polygon([x, y], p) for p in polys) for x, y in zip(lon, lat)]
        )

    mask = F.col("tile_id").isin(full) if full else F.lit(False)
    if partial:
        mask = mask | (F.col("tile_id").isin(partial) & in_bbox & pip(F.col("longitude"), F.col("latitude")))
    return df.filter(mask)


def assemble_pixels(
    spark: SparkSession,
    env: DataEnvironment,
    base_layer: str,
    needed_layers: list[str],
    geometry: dict[str, Any] | None = None,
) -> DataFrame:
    """Build the virtual ``data`` relation: base-layer pixels left-joined
    with the other referenced layers, reserved + derived columns attached.
    """
    layer_map = env.layer_map()
    base_source = env.source_of(layer_map[base_layer])
    tiles: list[str] | None = None
    if geometry is not None:
        tiles = env.grid.tiles_overlapping(geo.bbox(geometry))

    def read_source(src: SourceLayer) -> DataFrame:
        df = spark.read.parquet(src.source_uri)
        if tiles is not None:
            df = df.filter(F.col("tile_id").isin(tiles))
        return df

    df = read_source(base_source).withColumnRenamed("value", base_source.name)

    # physical sources for every other referenced layer
    joined = {base_source.name}
    for name in needed_layers:
        src = env.source_of(layer_map[name])
        if src.name in joined:
            continue
        joined.add(src.name)
        other = read_source(src).withColumnRenamed("value", src.name)
        df = df.join(other, ["tile_id", "pixel_id"], "left")

    df = with_pixel_coordinates(df, env.grid)
    if geometry is not None and tiles is not None:
        df = _geometry_mask(df, geometry, env.grid, tiles)

    # derived layers + value-table/boolean presentation
    for name in needed_layers:
        layer = layer_map[name]
        if isinstance(layer, DerivedLayer):
            raw = _calc_column(layer.calc, F.col(layer.source_layer), F.col("area__ha"))
            df = df.withColumn(name, _decode_column(layer, raw))
        else:
            if name.startswith("is__"):
                df = df.withColumn(name, F.col(name).isNotNull() & (F.col(name) != 0))
            elif layer.raster_table is not None:
                df = df.withColumn(
                    name,
                    _decode_column(
                        DerivedLayer(name=name, source_layer=name, calc="A", raster_table=layer.raster_table),
                        F.col(name),
                    ),
                )
    return df


def query_raster(
    spark: SparkSession,
    registry: Registry,
    dataset: str,
    version: str,
    sql: str,
    geometry: dict[str, Any],
    version_overrides: dict[str, str] | None = None,
) -> DataFrame:
    """``GET /dataset/{d}/{v}/query`` raster branch, end to end."""
    asset = registry.get_default_asset(dataset, version)
    if asset.asset_type != "raster_tile_set":
        raise QueryGuardError(f"{dataset}.{version} is not a raster tile set", 422)
    _check_geometry(geometry)
    grid = Grid.parse(asset.creation_options["grid"])
    pixel_meaning = asset.creation_options["pixel_meaning"]
    base_layer = default_layer_name(dataset, pixel_meaning)

    env = build_data_environment(registry, grid, version_overrides)
    validated = validate_raster_sql(sql)
    needed = _referenced_layers(validated.sql, env)
    if base_layer not in needed:
        needed.append(base_layer)

    df = assemble_pixels(spark, env, base_layer, needed, geometry)
    view = f"gfw_raster_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        bound = bind_from(validated, view)
        # DELIBERATELY type-blind (no column_types): the reference ships
        # raster SQL out-of-process to a NumPy evaluator
        # (queries.py:586-597) where / is true division — float — unlike
        # the Postgres-typed tabular path (operators/query.py). Pinned by
        # the r13 gate + docs/PARITY.md 'typed semantics'.
        return run_spark_sql(spark, to_spark_sql(bound, column_types=None))
    finally:
        spark.catalog.dropTempView(view)
