"""Spark column functions and pandas UDFs over the geometry library.

Design rule (SURVEY.md §4.2): geometry predicates run in Arrow-batched
pandas UDFs, *after* a JVM-side bbox prefilter has discarded rows whose
``gfw_bbox`` cannot intersect the query geometry — so Python only touches
candidate rows. Web-mercator and bbox math are plain column expressions
(whole-stage codegen), never UDFs.

``register_geo_sql_functions`` registers the ST_* names used by the guard's
injected predicate (st_intersects / st_setsrid / st_geomfromgeojson, see
sql/guard.py:geometry_filter_sql) so guarded SQL executes verbatim on Spark.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gfw_data_api_spark.functions import geometry as geo


@pandas_udf(T.BinaryType())
def make_point_wkb(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """WKB Point(lon, lat) — ST_MakePoint/ST_SetSRID(…, 4326) analog."""
    return pd.Series(
        [
            None
            if x is None or y is None or pd.isna(x) or pd.isna(y)
            else geo.wkb_dumps({"type": "Point", "coordinates": [float(x), float(y)]})
            for x, y in zip(lon, lat)
        ]
    )


@pandas_udf(T.StringType())
def st_asgeojson(wkb: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else json.dumps(geo.wkb_loads(bytes(b))) for b in wkb]
    )


@pandas_udf(T.BinaryType())
def st_geomfromgeojson(geojson: pd.Series) -> pd.Series:
    return pd.Series(
        [None if s is None else geo.wkb_dumps(json.loads(s)) for s in geojson]
    )


@pandas_udf(T.DoubleType())
def st_area_ha(wkb: pd.Series) -> pd.Series:
    """gfw_area__ha = ST_Area(geom::geography)/10000 analog."""
    return pd.Series(
        [None if b is None else geo.geodesic_area_ha(geo.wkb_loads(bytes(b))) for b in wkb]
    )


@pandas_udf(T.ArrayType(T.DoubleType()))
def st_bbox(wkb: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else list(geo.bbox(geo.wkb_loads(bytes(b)))) for b in wkb]
    )


@pandas_udf(T.BooleanType())
def st_intersects_wkb(geom_a: pd.Series, geom_b: pd.Series) -> pd.Series:
    """Pairwise ST_Intersects on two WKB columns (one usually a literal).

    Constant sides are parsed once per Arrow batch.
    """
    cache: dict[bytes, geo.Geom] = {}

    def parse(b):
        key = bytes(b)
        if key not in cache:
            cache[key] = geo.wkb_loads(key)
        return cache[key]

    out = []
    for a, b in zip(geom_a, geom_b):
        if a is None or b is None:
            out.append(None)
        else:
            out.append(geo.intersects(parse(a), parse(b)))
    return pd.Series(out)


@pandas_udf(T.BinaryType())
def st_simplify(wkb: pd.Series, tolerance: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None
            if b is None
            else geo.wkb_dumps(geo.simplify(geo.wkb_loads(bytes(b)), float(t)))
            for b, t in zip(wkb, tolerance)
        ]
    )


@pandas_udf(T.BinaryType())
def st_clip_box(
    wkb: pd.Series, xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series
) -> pd.Series:
    """ST_Intersection(geom, ST_MakeEnvelope(...)) — axis-aligned clip,
    the reference's per-tile export op (export_1x1_grid.py:309-381).
    Null result = empty intersection."""
    out = []
    for b, x0, y0, x1, y1 in zip(wkb, xmin, ymin, xmax, ymax):
        if b is None:
            out.append(None)
            continue
        clipped = geo.clip_to_box(
            geo.wkb_loads(bytes(b)), float(x0), float(y0), float(x1), float(y1)
        )
        out.append(None if clipped is None else geo.wkb_dumps(clipped))
    return pd.Series(out)


@pandas_udf(T.BinaryType())
def st_intersection_envelope(geom_a: pd.Series, geom_b: pd.Series) -> pd.Series:
    """PostGIS-shaped ST_Intersection(geom, geom) — the second geometry
    must be an axis-aligned envelope (the reference's only use: clipping
    to grid cells, export_1x1_grid.py:309-381). A non-rectangular second
    argument raises rather than silently clipping to its bbox."""
    cache: dict[bytes, tuple] = {}

    def box_of(b):
        key = bytes(b)
        if key not in cache:
            g = geo.wkb_loads(key)
            bb = geo.bbox(g)
            if g != geo.make_envelope(*bb):
                raise NotImplementedError(
                    "st_intersection supports an axis-aligned envelope as its "
                    "second argument (use st_makeenvelope / st_envelope)"
                )
            cache[key] = bb
        return cache[key]

    out = []
    for a, b in zip(geom_a, geom_b):
        if a is None or b is None:
            out.append(None)
            continue
        clipped = geo.clip_to_box(geo.wkb_loads(bytes(a)), *box_of(b))
        out.append(None if clipped is None else geo.wkb_dumps(clipped))
    return pd.Series(out)


@pandas_udf(T.BinaryType())
def st_makeenvelope_wkb(
    xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            geo.wkb_dumps(geo.make_envelope(float(x0), float(y0), float(x1), float(y1)))
            for x0, y0, x1, y1 in zip(xmin, ymin, xmax, ymax)
        ]
    )


@pandas_udf(T.BinaryType())
def st_snaptogrid(wkb: pd.Series, size: pd.Series) -> pd.Series:
    out = []
    for b, s in zip(wkb, size):
        if b is None:
            out.append(None)
            continue
        snapped = geo.snap_to_grid(geo.wkb_loads(bytes(b)), float(s))
        out.append(None if snapped is None else geo.wkb_dumps(snapped))
    return pd.Series(out)


@pandas_udf(T.BooleanType())
def st_within_wkb(geom_a: pd.Series, geom_b: pd.Series) -> pd.Series:
    cache: dict[bytes, geo.Geom] = {}

    def parse(b):
        key = bytes(b)
        if key not in cache:
            cache[key] = geo.wkb_loads(key)
        return cache[key]

    return pd.Series(
        [
            None if a is None or b is None else geo.within(parse(a), parse(b))
            for a, b in zip(geom_a, geom_b)
        ]
    )


@pandas_udf(T.StringType())
def st_geometrytype(wkb: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else geo.geometry_type(geo.wkb_loads(bytes(b))) for b in wkb]
    )


@pandas_udf(T.BinaryType())
def st_envelope(wkb: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else geo.wkb_dumps(geo.envelope(geo.wkb_loads(bytes(b)))) for b in wkb]
    )


@pandas_udf(T.BinaryType())
def st_multi(wkb: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else geo.wkb_dumps(geo.multi(geo.wkb_loads(bytes(b)))) for b in wkb]
    )


@pandas_udf(T.DoubleType())
def st_x(wkb: pd.Series) -> pd.Series:
    def x_of(b):
        g = geo.wkb_loads(bytes(b))
        return float(g["coordinates"][0]) if g["type"] == "Point" else None

    return pd.Series([None if b is None else x_of(b) for b in wkb])


@pandas_udf(T.DoubleType())
def st_y(wkb: pd.Series) -> pd.Series:
    def y_of(b):
        g = geo.wkb_loads(bytes(b))
        return float(g["coordinates"][1]) if g["type"] == "Point" else None

    return pd.Series([None if b is None else y_of(b) for b in wkb])


def _bbox_component(idx: int):
    @pandas_udf(T.DoubleType())
    def component(wkb: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else geo.bbox(geo.wkb_loads(bytes(b)))[idx] for b in wkb]
        )

    return component


st_xmin = _bbox_component(0)
st_ymin = _bbox_component(1)
st_xmax = _bbox_component(2)
st_ymax = _bbox_component(3)


def bbox_overlap_predicate(bbox_col: Column, query_bbox: tuple) -> Column:
    """JVM-side prefilter: does the row's [xmin,ymin,xmax,ymax] array
    overlap the query bbox? Runs in whole-stage codegen and lets Catalyst
    skip parquet row groups via column stats on materialized bbox columns."""
    xmin, ymin, xmax, ymax = query_bbox
    return (
        (bbox_col[0] <= F.lit(xmax))
        & (bbox_col[2] >= F.lit(xmin))
        & (bbox_col[1] <= F.lit(ymax))
        & (bbox_col[3] >= F.lit(ymin))
    )


def register_geo_sql_functions(spark: SparkSession) -> None:
    """Expose the ST_* surface to Spark SQL so injected guarded predicates
    (sql/guard.py:geometry_filter_sql) run unchanged."""
    spark.udf.register("st_intersects", st_intersects_wkb)
    spark.udf.register("st_geomfromgeojson", st_geomfromgeojson)
    spark.udf.register("st_asgeojson", st_asgeojson)
    spark.udf.register("st_area_ha", st_area_ha)
    spark.udf.register("st_simplify", st_simplify)
    spark.udf.register("st_bbox", st_bbox)
    spark.udf.register("st_makepoint", make_point_wkb)
    spark.udf.register("st_intersection", st_intersection_envelope)  # PG arity
    spark.udf.register("st_makeenvelope", st_makeenvelope_wkb)
    spark.udf.register("st_clip_box", st_clip_box)  # flat-args variant (E13)
    spark.udf.register("st_snaptogrid", st_snaptogrid)
    spark.udf.register("st_within", st_within_wkb)
    spark.udf.register("st_geometrytype", st_geometrytype)
    spark.udf.register("st_envelope", st_envelope)
    spark.udf.register("st_multi", st_multi)
    spark.udf.register("st_x", st_x)
    spark.udf.register("st_y", st_y)
    spark.udf.register("st_xmin", st_xmin)
    spark.udf.register("st_ymin", st_ymin)
    spark.udf.register("st_xmax", st_xmax)
    spark.udf.register("st_ymax", st_ymax)
    # SRID bookkeeping is a no-op: everything is EPSG:4326 WKB
    spark.udf.register("st_setsrid", lambda b, srid: b, T.BinaryType())
    spark.udf.register("st_force2d", lambda b: b, T.BinaryType())  # all 2D here
