"""Feature lookup operators (SURVEY.md §2.3 I3/I4/I5/I7).

Reference: app/routes/datasets/features.py:140-246 — a point+zoom lookup
buffers the point by a zoom-dependent search radius (tippecanoe tile
precision × 50) in an azimuthal-equidistant frame, then selects the
``is_feature_info`` columns of features intersecting the buffer.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from gfw_data_api_spark.catalog.registry import Registry, RegistryError
from gfw_data_api_spark.functions import geometry as geo
from gfw_data_api_spark.operators.query import filter_by_geometry

# Vector-tile precision per zoom level (tippecanoe), metres
# (features.py:183-210)
_ZOOM_PRECISION: dict[int, float] = {
    0: 10000, 1: 5000, 2: 2500, 3: 1250, 4: 600, 5: 300, 6: 150, 7: 80,
    8: 40, 9: 20, 10: 10, 11: 5, 12: 2, 13: 1, 14: 0.5, 15: 0.25,
    16: 0.15, 17: 0.08, 18: 0.04, 19: 0.02, 20: 0.01, 21: 0.005, 22: 0.0025,
}
_SCALE_FACTOR = 50


def buffer_distance_m(zoom: int) -> float:
    """Search radius for a zoom level (features.py:176-218)."""
    try:
        return _ZOOM_PRECISION[zoom] * _SCALE_FACTOR
    except KeyError:
        raise RegistryError("Zoom level out of range", 400) from None


def features_by_location(
    spark: SparkSession,
    registry: Registry,
    dataset: str,
    version: str,
    lat: float,
    lng: float,
    zoom: int = 22,
) -> DataFrame:
    """I3: features intersecting the zoom-buffered point, projected to the
    version's feature-info columns (E14 selection)."""
    buffer_geom = geo.buffer_point(lng, lat, buffer_distance_m(zoom))
    df = registry.load(spark, dataset, version)
    columns = registry.feature_info_fields(dataset, version)
    filtered = filter_by_geometry(df, buffer_geom)
    return filtered.select(*columns) if columns else filtered


def feature_by_id(
    spark: SparkSession,
    registry: Registry,
    dataset: str,
    version: str,
    id_column: str,
    feature_id,
) -> DataFrame:
    """I7-style exact-id lookup (e.g. wdpa_pid = :id)."""
    from pyspark.sql import functions as F

    df = registry.load(spark, dataset, version)
    columns = registry.feature_info_fields(dataset, version)
    out = df.filter(F.col(id_column) == F.lit(feature_id))
    return out.select(*columns) if columns else out


def admin_lookup(
    spark: SparkSession,
    registry: Registry,
    dataset: str,
    version: str,
    level: int,
    gid_pattern: str | None = None,
    name: str | None = None,
    name_column: str | None = None,
) -> DataFrame:
    """I4/I5: GADM-style boundary lookup — LIKE pattern on the gid column
    with escaped-underscore revision suffix (crud/geostore.py:330-367), or
    exact match on a unidecoded+lowered normalized name column
    (political/id_lookup.py:58-126)."""
    from pyspark.sql import functions as F

    df = registry.load(spark, dataset, version)
    out = df.filter(F.col("adm_level") == F.lit(str(level)))
    if gid_pattern is not None:
        # revision-agnostic: 'BRA.12\__' matches any revision suffix with
        # the literal underscore escaped (crud/geostore.py:330-367);
        # Column.like's escape character is already the backslash.
        out = out.filter(F.col(f"gid_{level}").like(gid_pattern))
    if name is not None:
        column = name_column or (f"name_{level}_normalized" if level else "country_normalized")
        out = out.filter(F.col(column) == F.lit(name.lower()))
    return out


def admin_boundary_list(
    spark: SparkSession, registry: Registry, dataset: str, version: str
) -> DataFrame:
    """GET /geostore/admin/list: national ids/names/geostore ids
    (crud/geostore.py:137-178 — adm_level 0 rows ordered by gid_0)."""
    from pyspark.sql import functions as F

    df = registry.load(spark, dataset, version)
    return (
        df.filter(F.col("adm_level") == "0")
        .select(
            F.col("gfw_geostore_id").alias("geostoreId"),
            F.col("gid_0").alias("iso"),
            F.col("country").alias("name"),
        )
        .orderBy("iso")
    )


def admin_geostore(
    spark: SparkSession,
    registry: Registry,
    dataset: str,
    version: str,
    adm_level: int,
    country_id: str,
    region_id: str | None = None,
    subregion_id: str | None = None,
    simplify_tolerance: float | None = None,
) -> dict:
    """GET /geostore/admin/{c}[/{r}[/{s}]] — one boundary as a geostore
    document (crud/geostore.py:218-299 build_gadm_geostore).

    Level 0 matches gid_0 exactly; deeper levels match
    ``C.R[.S]\\__`` LIKE patterns (escaped literal underscore, then the
    unescaped-wildcard revision suffix — crud/geostore.py:330-367).
    """
    import json as _json

    from pyspark.sql import functions as F

    from gfw_data_api_spark.catalog.registry import RegistryError
    from gfw_data_api_spark.functions import geometry as geo

    df = registry.load(spark, dataset, version).filter(
        F.col("adm_level") == str(adm_level)
    )
    if adm_level == 0:
        df = df.filter(F.col("gid_0") == country_id)
    else:
        if region_id is None:
            raise RegistryError("region_id required for adm_level >= 1.", 400)
        ids = [country_id, region_id]
        if adm_level >= 2:
            if subregion_id is None:
                raise RegistryError(
                    "subregion_id required for adm_level >= 2.", 400
                )
            ids.append(subregion_id)
        # path segments are data: escape LIKE's \, % and _ in them
        pattern = ".".join(re.sub(r"([\\%_])", r"\\\1", i) for i in ids)
        df = df.filter(F.col(f"gid_{adm_level}").like(pattern + r"\__"))
    name_col = "country" if adm_level == 0 else f"name_{adm_level}"
    rows = (
        df.select(
            "gfw_geostore_id", "gfw_geojson", "gfw_area__ha", "gfw_bbox",
            F.col(f"gid_{adm_level}").alias("level_id"),
            F.col(name_col).alias("name"),
        )
        .limit(1)
        .collect()
    )
    if not rows:
        raise RegistryError(
            f"Admin boundary not found in {dataset} version {version}", 404
        )
    row = rows[0]
    geometry = _json.loads(row["gfw_geojson"])
    if simplify_tolerance is not None:
        geometry = geo.simplify(geometry, simplify_tolerance)
        if geometry is None or not geometry.get("coordinates"):
            raise RegistryError(
                "GeoJSON is None, try reducing or eliminating "
                "simplification.",
                500,
            )
    # level ids per segment: "BRA.12_1" -> iso BRA, id1 12
    plain = row["level_id"].split("_")[0]
    segments = plain.split(".")
    info: dict = {
        "use": {},
        "simplifyThresh": simplify_tolerance,
        "gadm": version,
        "name": row["name"],
        "iso": segments[0],
    }
    if adm_level >= 1:
        info["id1"] = int(segments[1])
    if adm_level >= 2:
        info["id2"] = int(segments[2])
    return {
        "type": "geoStore",
        "id": row["gfw_geostore_id"],
        "attributes": {
            "geojson": {
                "crs": {},
                "type": "FeatureCollection",
                "features": [
                    {
                        "properties": None,
                        "type": "Feature",
                        "geometry": geometry,
                    }
                ],
            },
            "hash": row["gfw_geostore_id"],
            "provider": {},
            "areaHa": float(row["gfw_area__ha"]),
            "bbox": [float(v) for v in row["gfw_bbox"]],
            "lock": False,
            "info": info,
        },
    }


def haversine_km_col(lat1, lon1, lat2, lon2):
    """Great-circle distance (km) as a NATIVE column expression.

    The radius-lookup predicate of features_by_location expressed in
    whole-stage-codegen column math — no Python, no geometry objects —
    so a point-radius scan over a 100 TB point table is an ordinary
    pushed-down filter. Engine-portable: the same closed form (2R·asin
    √(sin²(Δφ/2)+cosφ₁cosφ₂ sin²(Δλ/2)), R = 6371.0088 km) reproduces
    in any SQL engine for the driver-gate oracle.
    """
    from pyspark.sql import functions as F

    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    )
    return 2.0 * 6371.0088 * F.asin(F.sqrt(a))


def points_within_radius(
    df: DataFrame,
    lat: float,
    lng: float,
    radius_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """All rows within ``radius_km`` of (lat, lng), with ``distance_km``.

    The scalable sibling of features_by_location for POINT tables: a
    bounding-box pre-filter (pure comparisons — partition/row-group
    prunable at the parquet scan) wraps the exact haversine predicate,
    so only the bbox-surviving rows pay the trigonometry.
    """
    from pyspark.sql import functions as F

    # ~111.32 km per degree latitude; longitude shrinks by cos(lat)
    dlat = radius_km / 111.32
    import math as _math

    coslat = max(_math.cos(_math.radians(lat)), 1e-9)
    dlon = radius_km / (111.32 * coslat)
    dist = haversine_km_col(F.lit(lat), F.lit(lng), F.col(lat_col), F.col(lon_col))
    lat_pred = (F.col(lat_col) >= lat - dlat) & (F.col(lat_col) <= lat + dlat)
    lo, hi = lng - dlon, lng + dlon
    if hi - lo >= 360.0 or lat + dlat >= 90.0 or lat - dlat <= -90.0:
        # circle spans every longitude — either the window wraps fully
        # OR the circle encloses a pole (where all meridians converge
        # long before the planar window reaches 360°): no lon pruning
        lon_pred = F.lit(True)
    elif lo < -180.0:
        # window crosses the antimeridian westward: wrap the low bound
        lon_pred = (F.col(lon_col) >= lo + 360.0) | (F.col(lon_col) <= hi)
    elif hi > 180.0:
        # crosses eastward: wrap the high bound
        lon_pred = (F.col(lon_col) >= lo) | (F.col(lon_col) <= hi - 360.0)
    else:
        lon_pred = (F.col(lon_col) >= lo) & (F.col(lon_col) <= hi)
    return (
        df.filter(lat_pred & lon_pred)
        .withColumn("distance_km", dist)
        .filter(F.col("distance_km") <= radius_km)
    )
