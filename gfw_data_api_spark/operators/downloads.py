"""Downloads / exports (SURVEY.md §2.2 E12-E14, §2.4 R12).

Reference: app/routes/datasets/downloads.py (CSV/JSON downloads run the
same guarded query path), queries.py:528-545 (CSV serialization with
QUOTE_NONNUMERIC), batch/scripts/export_vector_data.sh (filtered vector
export), app/utils/fields.py:9-38 (feature-info column selection),
batch/python/export_1x1_grid.py (the 1×1° grid export spatial join).

Everything distributed: exports are ``df.write`` jobs; the NDJSON feature
serialization is native string/JSON column work, and the 1×1 grid export
broadcasts the (small) grid-cell table — Catalyst turns the
intersects-join into broadcast + bbox prefilter + exact UDF check.
"""

from __future__ import annotations

import csv
import datetime
import io
import json
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gfw_data_api_spark.functions import geometry as geo_mod


@pandas_udf(T.BooleanType())
def _cell_intersects(wkb: pd.Series, cx: pd.Series, cy: pd.Series) -> pd.Series:
    out = []
    for b, x, y in zip(wkb, cx, cy):
        if b is None:
            out.append(None)
            continue
        x, y = float(x), float(y)
        cell = {
            "type": "Polygon",
            "coordinates": [[[x, y], [x + 1, y], [x + 1, y + 1], [x, y + 1], [x, y]]],
        }
        out.append(geo_mod.intersects(geo_mod.wkb_loads(bytes(b)), cell))
    return pd.Series(out)

from gfw_data_api_spark.catalog.registry import Registry
from gfw_data_api_spark.compat import YearMonthInterval
from gfw_data_api_spark.operators.query import execute_on_dataframe

DELIMITERS = {",": ",", "\t": "\t", "|": "|", ";": ";"}


def query_for_download(
    spark: SparkSession,
    registry: Registry,
    dataset: str,
    version: str,
    sql: str,
    geometry: dict[str, Any] | None = None,
) -> DataFrame:
    """Shared download entry: guard + is_downloadable check."""
    from gfw_data_api_spark.catalog.registry import RegistryError

    if not registry.get_dataset(dataset).is_downloadable:
        raise RegistryError(f"Dataset {dataset} is not downloadable.", 403)
    version_entity = registry.get_version(dataset, version)
    if not version_entity.is_downloadable:
        raise RegistryError(f"Version {dataset}.{version} is not downloadable.", 403)
    df = registry.load(spark, dataset, version)
    return execute_on_dataframe(spark, df, sql, geometry=geometry)


# In-memory API-response collectors refuse beyond this many rows: the
# reference's interactive surface is LIMIT-bounded well under this
# (its API responses page at 10k and its downloads stream), so a
# larger result reaching these helpers is a misuse of the in-memory
# path, not a bigger response — the distributed write_csv /
# export_ndjson_features twins are the scale path. 500k rows of
# ~200-byte rows ≈ 100 MB of driver heap, the most a response
# serializer should ever hold.
MAX_COLLECT_ROWS = 500_000


def _guard_collect(df: DataFrame, what: str, scale_twin: str) -> list:
    """Collect with a row cap — fail loudly naming the scale path."""
    rows = df.limit(MAX_COLLECT_ROWS + 1).collect()
    if len(rows) > MAX_COLLECT_ROWS:
        raise ValueError(
            f"{what}: result exceeds {MAX_COLLECT_ROWS} rows; the in-memory "
            f"response path is for LIMIT-bounded API results — use "
            f"{scale_twin} for large exports"
        )
    return rows


def rows_to_csv(df: DataFrame, delimiter: str = ",") -> str:
    """In-memory CSV for API responses — QUOTE_NONNUMERIC like the
    reference (queries.py:528-545). For large results use write_csv."""
    return rows_to_csv_rows(df.columns, _guard_collect(df, "rows_to_csv", "write_csv"), delimiter)


def _interval_to_pg_text(value) -> str:
    """Render a collected interval (a day-time ``timedelta`` or a
    :class:`YearMonthInterval`) in PG's default ``postgres``
    IntervalStyle, by the rules of the dialect's
    ``_gfw_interval_text``: '1 year 2 mons', '2 days 03:00:00'; a
    component printed only when nonzero, each carrying the sign
    ('-1 days -02:00:00'), plural unless the value is exactly 1 and not
    negative; the time as ``HH:MM:SS`` with the fraction's trailing
    zeros trimmed, omitted when zero beside another component, and
    '00:00:00' alone for zero. Keeps interval download columns
    engine-portable (docs/PARITY.md interval-rendering note; Spark's own
    rendering is ``INTERVAL '1 02:00:00' DAY TO SECOND``)."""
    if isinstance(value, YearMonthInterval):
        months, micros = value.months, 0
    else:
        # integer arithmetic: total_seconds() goes through float64 and
        # loses microsecond exactness beyond ~2^53 us (~285 years)
        months, micros = 0, value // datetime.timedelta(microseconds=1)
    negative = months < 0 or micros < 0
    sign = "-" if negative else ""
    months = abs(months)
    days, micros = divmod(abs(micros), 86_400_000_000)
    parts = [
        f"{sign}{n} {unit}" + ("" if n == 1 and not negative else "s")
        for n, unit in ((months // 12, "year"), (months % 12, "mon"), (days, "day"))
        if n
    ]
    if micros or not parts:
        secs, us = divmod(micros, 1_000_000)
        clock = f"{sign}{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}"
        parts.append(clock + (f".{us:06d}".rstrip("0") if us else ""))
    return " ".join(parts)


def _pg_text(value):
    """A collected value in PG's text output form where Python's differs:
    bytea as ``\\x`` hex, intervals in the default IntervalStyle (Python's
    timedelta str() '1 day, 2:00:00' matches neither engine)."""
    if isinstance(value, (bytes, bytearray)):
        return "\\x" + bytes(value).hex()
    if isinstance(value, (datetime.timedelta, YearMonthInterval)):
        return _interval_to_pg_text(value)
    return value


def rows_to_csv_rows(columns: list[str], rows, delimiter: str = ",") -> str:
    """CSV from already-collected rows (used with the query watchdog),
    values in their PG text forms so downloads stay engine-portable."""
    buf = io.StringIO()
    writer = csv.writer(
        buf, delimiter=DELIMITERS.get(delimiter, delimiter), quoting=csv.QUOTE_NONNUMERIC
    )
    writer.writerow(columns)
    for row in rows:
        writer.writerow([_pg_text(row[c]) for c in columns])
    return buf.getvalue()


def write_csv(df: DataFrame, path: str, delimiter: str = ",") -> None:
    """Distributed CSV export (the scale path for E12/R12)."""
    (
        df.write.mode("overwrite")
        .option("header", True)
        .option("delimiter", DELIMITERS.get(delimiter, delimiter))
        .csv(path)
    )


def rows_to_json(df: DataFrame) -> list[dict]:
    return [
        row.asDict(recursive=True)
        for row in _guard_collect(df, "rows_to_json", "export_ndjson_features")
    ]


def export_ndjson_features(
    df: DataFrame,
    path: str,
    registry: Registry | None = None,
    dataset: str | None = None,
    version: str | None = None,
) -> None:
    """E12+E14: vector export as newline-delimited GeoJSON Features.

    Feature JSON is assembled natively: properties via to_json(struct(...))
    over the feature-info columns, geometry spliced in from the stored
    ``gfw_geojson`` text — no Python serialization in the hot path.
    """
    columns = None
    if registry is not None and dataset is not None and version is not None:
        columns = [c for c in registry.feature_info_fields(dataset, version) if c in df.columns]
    if not columns:
        columns = [c for c in df.columns if not c.startswith(("geom", "gfw_geojson", "gfw_bbox"))]
    line = F.concat(
        F.lit('{"type": "Feature", "properties": '),
        F.to_json(F.struct(*[F.col(c) for c in columns])),
        F.lit(', "geometry": '),
        F.coalesce(F.col("gfw_geojson"), F.lit("null")),
        F.lit("}"),
    )
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def export_grid_1x1(
    spark: SparkSession,
    df: DataFrame,
    geom_col: str = "geom",
    bbox_col: str = "gfw_bbox",
    clip: bool = False,
    simplify_tol: float = 1e-4,
    snap_size: float = 1e-9,
) -> DataFrame:
    """E13: tag features with the 1×1° grid cells they intersect.

    The reference iterates ~280 10×10 tiles with async Postgres queries
    (export_1x1_grid.py:309-451); here one Spark job: derive candidate
    cells per feature from its bbox natively (explode of a sequence cross
    product — no cross join at all), then confirm with the exact
    intersects UDF. Output: one row per (feature, grid_id).

    ``clip=True`` adds ``geom_clipped``: the geometry cut to its cell,
    simplified, and snapped — the reference's per-tile
    ``ST_SnapToGrid(…(ST_SimplifyPreserveTopology(ST_Intersection(geom,
    cell), 1e-4)), 1e-9)`` chain (export_1x1_grid.py:309-381; its ±1e-4
    buffer pair is a validity scrub PostGIS needs that the box-clip
    doesn't). One Arrow batch pass does clip+simplify+snap together.
    """
    lon0 = F.floor(F.col(bbox_col)[0]).cast("int")
    lon1 = F.floor(F.col(bbox_col)[2]).cast("int")
    lat0 = F.floor(F.col(bbox_col)[1]).cast("int")
    lat1 = F.floor(F.col(bbox_col)[3]).cast("int")
    cells = F.flatten(
        F.transform(
            F.sequence(lon0, lon1),
            lambda x: F.transform(F.sequence(lat0, lat1), lambda y: F.struct(x.alias("cx"), y.alias("cy"))),
        )
    )
    exploded = df.withColumn("_cell", F.explode(cells))

    grid_id = F.concat_ws(
        "_",
        F.concat(F.abs(F.col("_cell.cy") + 1).cast("string"), F.when(F.col("_cell.cy") + 1 >= 0, "N").otherwise("S")),
        F.concat(F.abs(F.col("_cell.cx")).cast("string"), F.when(F.col("_cell.cx") >= 0, "E").otherwise("W")),
    )
    tagged = exploded.filter(
        _cell_intersects(F.col(geom_col), F.col("_cell.cx"), F.col("_cell.cy"))
    ).withColumn("gfw_grid_1x1_id", grid_id)
    if clip:
        tagged = tagged.withColumn(
            "geom_clipped",
            _clip_simplify_snap(simplify_tol, snap_size)(
                F.col(geom_col), F.col("_cell.cx"), F.col("_cell.cy")
            ),
        )
    return tagged.drop("_cell")


def _clip_simplify_snap(simplify_tol: float, snap_size: float):
    """Pandas UDF factory: clip to the 1×1 cell at (cx, cy), then
    simplify + snap — one Python crossing for the whole chain."""
    from gfw_data_api_spark.functions import geometry as geo

    @pandas_udf(T.BinaryType())
    def fn(wkb: pd.Series, cx: pd.Series, cy: pd.Series) -> pd.Series:
        out = []
        for b, x, y in zip(wkb, cx, cy):
            if b is None:
                out.append(None)
                continue
            g = geo.clip_to_box(
                geo.wkb_loads(bytes(b)), float(x), float(y), float(x) + 1.0, float(y) + 1.0
            )
            if g is not None and simplify_tol > 0:
                g = geo.simplify(g, simplify_tol)
            if g is not None and snap_size > 0:
                g = geo.snap_to_grid(g, snap_size)
            out.append(None if g is None else geo.wkb_dumps(g))
        return pd.Series(out)

    return fn
