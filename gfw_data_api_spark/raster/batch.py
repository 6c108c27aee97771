"""Batch list queries (R10): one SQL over N features, one Spark job.

Reference: POST /dataset/{d}/{v}/query/batch (queries.py:300-427) fans out
≤100 parallel per-feature Lambda queries under a Step Functions state
machine with a 5-minute cap, then collects per-feature results from S3.

This is where Spark natively wins (SURVEY.md §2.4 R10): instead of N
independent queries, ONE job —

1. every feature's pixels are assembled together (tile pruning over the
   union of feature bboxes),
2. each pixel row is tagged with the feature ids whose geometry contains
   it (broadcast feature list, bbox prefilter per feature, exact
   point-in-polygon per surviving candidate — a pixel in k overlapping
   features yields k tagged rows, matching per-feature semantics),
3. the user SQL runs once with ``feature_id`` appended to SELECT and
   GROUP BY; results split per feature at the end.

Failed/invalid geometries are reported per feature like the reference's
failed-geometries list.
"""

from __future__ import annotations

import re
import uuid
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gfw_data_api_spark.catalog.registry import Registry
from gfw_data_api_spark.functions import geometry as geo
from gfw_data_api_spark.raster.data_environment import build_data_environment
from gfw_data_api_spark.raster.grid import Grid
from gfw_data_api_spark.raster.layers import default_layer_name
from gfw_data_api_spark.raster.zonal import _referenced_layers, _rewrite_deprecated, assemble_pixels
from gfw_data_api_spark.sql.dialect import require_ansi, to_spark_sql
from gfw_data_api_spark.sql.guard import (
    QueryGuardError,
    ValidatedQuery,
    bind_from,
    validate_sql,
)

MAX_BATCH_FEATURES = 100  # parity with the reference's fan-out cap


def _refuse_cross_feature(validated: ValidatedQuery) -> None:
    """422 for the shapes one statement over every feature cannot answer
    per feature: a subquery over the table ranges over all features'
    pixels, and a top-level LIMIT, OFFSET or FETCH cuts across features."""
    if validated.nested_from_spans:
        raise QueryGuardError(
            "Batch queries cannot use a subquery over the table: it would "
            "range over every feature's pixels, not one feature's.",
            422,
        )
    depth = 0
    for tok in validated.tokens:
        if tok.kind == "PUNCT":
            depth += {"(": 1, ")": -1}.get(tok.value, 0)
        elif depth == 0 and tok.kind == "IDENT" and tok.upper in ("LIMIT", "OFFSET", "FETCH"):
            raise QueryGuardError(
                f"Batch queries cannot use {tok.upper}: it would apply across "
                "all features, not to each feature.",
                422,
            )


def batch_query(
    spark: SparkSession,
    registry: Registry,
    dataset: str,
    version: str,
    sql: str,
    features: list[dict[str, Any]],
    version_overrides: dict[str, str] | None = None,
) -> tuple[DataFrame, list[int]]:
    """Run ``sql`` per feature in one job.

    ``features``: list of GeoJSON Polygon/MultiPolygon geometries.
    Returns (results DataFrame with a ``feature_id`` column, list of
    failed feature indexes).
    """
    if len(features) > MAX_BATCH_FEATURES:
        raise ValueError(f"batch query limited to {MAX_BATCH_FEATURES} features")

    asset = registry.get_default_asset(dataset, version)
    grid = Grid.parse(asset.creation_options["grid"])
    base_layer = default_layer_name(dataset, asset.creation_options["pixel_meaning"])
    env = build_data_environment(registry, grid, version_overrides)

    sql = _rewrite_deprecated(sql)
    sql = re.sub(r"isoweek\(", "weekofyear(", sql)
    validated = validate_sql(sql)
    _refuse_cross_feature(validated)
    needed = _referenced_layers(validated.sql, env)
    if base_layer not in needed:
        needed.append(base_layer)

    valid: list[tuple[int, dict]] = []
    failed: list[int] = []
    for idx, geom in enumerate(features):
        if geom.get("type") in ("Polygon", "MultiPolygon"):
            valid.append((idx, geom))
        else:
            failed.append(idx)

    # union geometry bbox for tile pruning across ALL features at once
    boxes = [geo.bbox(g) for _, g in valid]
    union_bbox = (
        min(b[0] for b in boxes),
        min(b[1] for b in boxes),
        max(b[2] for b in boxes),
        max(b[3] for b in boxes),
    )
    union_geom = {
        "type": "Polygon",
        "coordinates": [
            [
                [union_bbox[0], union_bbox[1]],
                [union_bbox[2], union_bbox[1]],
                [union_bbox[2], union_bbox[3]],
                [union_bbox[0], union_bbox[3]],
                [union_bbox[0], union_bbox[1]],
            ]
        ],
    }
    # assemble once over the union extent (no per-feature mask yet)
    pixels = assemble_pixels(spark, env, base_layer, needed, geometry=union_geom)

    features_pdf = pd.DataFrame(
        {
            "feature_id": [idx for idx, _ in valid],
            "_fxmin": [geo.bbox(g)[0] for _, g in valid],
            "_fymin": [geo.bbox(g)[1] for _, g in valid],
            "_fxmax": [geo.bbox(g)[2] for _, g in valid],
            "_fymax": [geo.bbox(g)[3] for _, g in valid],
            "_fgeom": [geo.wkb_dumps(g) for _, g in valid],
        }
    )
    features_df = F.broadcast(spark.createDataFrame(features_pdf))

    tagged = pixels.join(
        features_df,
        (F.col("longitude") >= F.col("_fxmin"))
        & (F.col("longitude") <= F.col("_fxmax"))
        & (F.col("latitude") >= F.col("_fymin"))
        & (F.col("latitude") <= F.col("_fymax")),
    )

    @pandas_udf(T.BooleanType())
    def pip(lon: pd.Series, lat: pd.Series, fwkb: pd.Series) -> pd.Series:
        cache: dict[bytes, list] = {}
        out = []
        for x, y, b in zip(lon, lat, fwkb):
            key = bytes(b)
            if key not in cache:
                cache[key] = list(geo._polygons_of(geo.wkb_loads(key)))
            out.append(any(geo.point_in_polygon([x, y], p) for p in cache[key]))
        return pd.Series(out)

    tagged = tagged.filter(pip(F.col("longitude"), F.col("latitude"), F.col("_fgeom"))).drop(
        "_fxmin", "_fymin", "_fxmax", "_fymax", "_fgeom"
    )

    view = f"gfw_batch_{uuid.uuid4().hex}"
    tagged.createOrReplaceTempView(view)
    try:
        bound = bind_from(validated, view)
        # DELIBERATELY type-blind, same as zonal.query_raster: raster SQL
        # matches the reference's NumPy Lambda float semantics
        # (queries.py:586-597), not Postgres typed division. See
        # docs/PARITY.md 'typed semantics' + the r13 gate.
        bound = to_spark_sql(bound, column_types=None)
        # inject feature_id into SELECT (after a DISTINCT, which then
        # applies per feature) and GROUP BY
        second = validated.tokens[1]
        if second.kind == "IDENT" and second.upper == "DISTINCT":
            bound = re.sub(
                r"(?i)^select\s+distinct\s", "SELECT DISTINCT feature_id, ", bound, count=1
            )
        else:
            bound = re.sub(r"(?i)^select\s", "SELECT feature_id, ", bound, count=1)
        if re.search(r"(?i)\bgroup\s+by\b", bound):
            bound = re.sub(r"(?i)\bgroup\s+by\b", "GROUP BY feature_id, ", bound, count=1)
        elif re.search(r"(?i)\b(sum|count|avg|min|max)\s*\(", bound):
            # a bare aggregate needs GROUP BY feature_id — inserted BEFORE
            # any ORDER BY / LIMIT / OFFSET tail
            tail = re.search(r"(?i)\b(ORDER\s+BY|LIMIT|OFFSET)\b", bound)
            if tail:
                pos = tail.start()
                bound = bound[:pos] + "GROUP BY feature_id " + bound[pos:]
            else:
                bound += " GROUP BY feature_id"
        require_ansi(spark)
        result = spark.sql(bound)
        result.schema  # analyze while the view exists
        return result, failed
    finally:
        spark.catalog.dropTempView(view)
