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
3. the user SQL runs once with ``feature_id`` added wherever a clause
   would otherwise range over every feature (:func:`_per_feature`);
   results split per feature at the end.

Failed/invalid geometries are reported per feature like the reference's
failed-geometries list.
"""

from __future__ import annotations

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
from gfw_data_api_spark.raster.zonal import _referenced_layers, assemble_pixels, validate_raster_sql
from gfw_data_api_spark.sql.dialect import run_spark_sql, to_spark_sql
from gfw_data_api_spark.sql.guard import QueryGuardError, ValidatedQuery, bind_from
from gfw_data_api_spark.sql.tokenizer import tokenize

MAX_BATCH_FEATURES = 100  # parity with the reference's fan-out cap

# PG aggregates: a call to one that is not a window makes the statement
# an aggregate, which then needs ``GROUP BY feature_id``
_AGGREGATES = frozenset(
    {
        "AVG", "COUNT", "MAX", "MIN", "SUM", "ARRAY_AGG", "STRING_AGG", "JSON_AGG",
        "BOOL_AND", "BOOL_OR", "EVERY", "BIT_AND", "BIT_OR", "STDDEV", "STDDEV_POP",
        "STDDEV_SAMP", "VARIANCE", "VAR_POP", "VAR_SAMP", "CORR", "COVAR_POP",
        "COVAR_SAMP", "MODE", "PERCENTILE_CONT", "PERCENTILE_DISC",
    }
)


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


def validate_batch_sql(sql: str) -> ValidatedQuery:
    """Every check a batch statement gets before it runs: the deprecated
    layer names rewritten, the guard, and the cross-feature refusals. The
    route calls it before it queues a job, so a refused statement is a
    synchronous 400/422, not a failed job."""
    validated = validate_raster_sql(sql)
    _refuse_cross_feature(validated)
    return validated


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

    validated = validate_batch_sql(sql)
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
    union_geom = geo.make_envelope(
        min(b[0] for b in boxes),
        min(b[1] for b in boxes),
        max(b[2] for b in boxes),
        max(b[3] for b in boxes),
    )
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
        bound = _per_feature(bind_from(validated, view))
        # DELIBERATELY type-blind, same as zonal.query_raster: raster SQL
        # matches the reference's NumPy Lambda float semantics
        # (queries.py:586-597), not Postgres typed division. See
        # docs/PARITY.md 'typed semantics' + the r13 gate.
        bound = to_spark_sql(bound, column_types=None)
        return run_spark_sql(spark, bound), failed
    finally:
        spark.catalog.dropTempView(view)


def _close_paren(tokens, i: int) -> int:
    """Index of the ``)`` matching the ``(`` at ``i`` (the last token if
    it is unbalanced; Spark then reports the syntax error)."""
    depth = 0
    for j in range(i, len(tokens)):
        if tokens[j].kind == "PUNCT":
            depth += {"(": 1, ")": -1}.get(tokens[j].value, 0)
            if depth == 0:
                return j
    return len(tokens) - 1


def _is_word(tokens, i: int, word: str) -> bool:
    return i < len(tokens) and tokens[i].kind == "IDENT" and tokens[i].upper == word


def _is_window_call(tokens, open_paren: int) -> bool:
    """Whether the call whose argument list opens at ``open_paren`` is a
    window call: its ``)``, an optional ``FILTER (...)``, then ``OVER``."""
    end = _close_paren(tokens, open_paren) + 1
    if _is_word(tokens, end, "FILTER") and end + 1 < len(tokens) and tokens[end + 1].value == "(":
        end = _close_paren(tokens, end + 1) + 1
    return _is_word(tokens, end, "OVER")


def _per_feature(sql: str) -> str:
    """``sql`` (PG text over the tagged view) with ``feature_id`` added
    wherever a clause would otherwise range over every feature, found by
    one token walk that tracks bracket depth:

    - the end of the top-level select list, unless it ends in a star
      (so ordinals keep their positions, and a DISTINCT applies per
      feature);
    - the head of a ``DISTINCT ON`` key list and of the top-level
      ORDER BY, which PG requires to start with those keys;
    - the head of a top-level GROUP BY, or a new ``GROUP BY feature_id``
      before the top-level tail when the statement aggregates (a
      non-window aggregate call, or HAVING) without one;
    - ``PARTITION BY`` of every window: an ``OVER (...)`` spec or a
      definition in the WINDOW clause; an ``OVER (w ...)`` that names a
      window inherits the partition of its definition.
    """
    tokens = tokenize(sql)
    distinct_on = (
        _is_word(tokens, 1, "DISTINCT")
        and _is_word(tokens, 2, "ON")
        and len(tokens) > 3
        and tokens[3].value == "("
    )
    inserts: list[tuple[int, str]] = []
    if distinct_on:
        inserts.append((tokens[3].end, "feature_id, "))
    depth = 0
    seen_from = has_group_by = aggregates = in_window_clause = False
    tail_start = len(sql)
    for i, tok in enumerate(tokens):
        prev = tokens[i - 1] if i else None
        if tok.kind == "PUNCT":
            if tok.value == "(":
                if _is_word(tokens, i - 1, "OVER") or (in_window_clause and depth == 0):
                    if not _names_window(tokens, i + 1):
                        inserts.append(_window_partition(tokens, i))
                elif prev is not None and prev.kind == "IDENT" and prev.upper in _AGGREGATES:
                    aggregates = aggregates or not _is_window_call(tokens, i)
                depth += 1
            elif tok.value == ")":
                depth -= 1
            continue
        if depth or tok.kind != "IDENT":
            continue
        word = tok.upper
        if word == "FROM" and not seen_from:
            seen_from = True
            if prev.value != "*":  # a star already expands to feature_id
                inserts.append((prev.end, ", feature_id"))
        elif not seen_from:
            continue
        elif word == "BY" and prev.upper == "GROUP":
            has_group_by = True
            inserts.append((tok.end, " feature_id,"))
        elif word == "BY" and prev.upper == "ORDER" and distinct_on:
            inserts.append((tok.end, " feature_id,"))
        elif word in ("HAVING", "WINDOW", "ORDER") and tail_start == len(sql):
            tail_start = tok.start
        if word == "HAVING":
            aggregates = True
        in_window_clause = word == "WINDOW" or (in_window_clause and word != "ORDER")
    if aggregates and not has_group_by:
        at_end = tail_start == len(sql)
        inserts.append((tail_start, " GROUP BY feature_id" if at_end else "GROUP BY feature_id "))
    for pos, text in sorted(inserts, reverse=True):
        sql = sql[:pos] + text + sql[pos:]
    return sql


def _names_window(tokens, i: int) -> bool:
    """Whether a window spec's first token ``tokens[i]`` names another
    window, whose definition then carries the partition."""
    return (
        i < len(tokens)
        and tokens[i].kind in ("IDENT", "QIDENT")
        and tokens[i].upper not in ("PARTITION", "ORDER", "ROWS", "RANGE", "GROUPS")
    )


def _window_partition(tokens, open_paren: int) -> tuple[int, str]:
    """The insert that partitions the window spec opening at
    ``open_paren`` by feature."""
    if _is_word(tokens, open_paren + 1, "PARTITION"):
        return tokens[open_paren + 2].end, " feature_id,"
    return tokens[open_paren].end, "PARTITION BY feature_id "
