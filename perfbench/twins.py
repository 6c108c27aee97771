"""Independent twins that every response is checked against.

- ``api_sql``: the same query template run by DuckDB over the generated
  rows.
- ``api_spatial``: point-in-rectangle, point-in-ellipse and pixel-mask
  sums computed with NumPy from the generated inputs. The inputs sit on
  lattices that keep every point and pixel centre off the query
  boundaries, so the twins are exact.
- the appends of ``api_sql``: the expected row count after each
  append's anti-join drops the duplicate keys.
- the inventory operators of ``api_spatial``: each query's DuckDB
  ``oracle_sql`` over the same parquet files.
"""

from __future__ import annotations

import csv
import io
import math

import duckdb
import numpy as np
import pandas as pd

from inputs import RASTER_PIXELS, RASTER_TILE_DEG

# functions.geometry.EARTH_RADIUS_M: the sphere the engine's pixel areas use
EARTH_RADIUS_M = 6371008.8
REL_TOL = 1e-9


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def same_rows(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


class SqlTwin:
    """DuckDB over the generated fire-alert rows."""

    def __init__(self, rows: pd.DataFrame):
        self.con = duckdb.connect()
        frame = rows.assign(alert__date=pd.to_datetime(rows["alert__date"]).dt.date)
        self.con.register("src", frame)
        self.con.execute("CREATE TABLE data AS SELECT * FROM src")
        self.con.unregister("src")

    def rows(self, sql: str) -> list[tuple]:
        out = []
        for row in self.con.execute(sql).fetchall():
            out.append(tuple(v.isoformat() if hasattr(v, "isoformat") else v for v in row))
        return out

    def close(self) -> None:
        self.con.close()


def json_rows(body: bytes, columns: list[str]) -> list[tuple]:
    import json

    data = json.loads(body)["data"]
    return [tuple(item[c] for c in columns) for item in data]


def csv_rows(body: bytes) -> list[tuple]:
    """The API writes CSV with QUOTE_NONNUMERIC: quoted fields are text,
    bare fields are numbers."""
    reader = csv.reader(io.StringIO(body.decode()), quoting=csv.QUOTE_NONNUMERIC)
    rows = list(reader)[1:]
    return [tuple(int(v) if isinstance(v, float) and v.is_integer() else v for v in r) for r in rows]


# -- spatial ----------------------------------------------------------------


def in_rect(lon: np.ndarray, lat: np.ndarray, rect: tuple) -> np.ndarray:
    x0, y0, x1, y1 = rect
    return (lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)


def features_twin(lon: np.ndarray, lat: np.ndarray, q_lon: float, q_lat: float, radius_m: float):
    """Points inside the search buffer of features-by-location: an
    ellipse in degrees with semi-axes radius/110,574 (lat) and
    radius/(111,320 cos lat) (lon), drawn as a 32-gon. Returns the
    inside mask and whether any point lies in the band between the
    32-gon and the ellipse, where the answer would depend on the
    polygon's vertices."""
    dlat = radius_m / 110_574.0
    dlon = radius_m / (111_320.0 * max(math.cos(math.radians(q_lat)), 1e-9))
    r = np.sqrt(((lon - q_lon) / dlon) ** 2 + ((lat - q_lat) / dlat) ** 2)
    ambiguous = bool(np.any((r > 0.99) & (r < 1.01)))
    return r <= 0.99, ambiguous


def pixel_table(tiles: dict[str, np.ndarray]) -> pd.DataFrame:
    """Pixel centres, areas and values of every data pixel."""
    from gfw_data_api_spark.raster.grid import Grid

    size = RASTER_TILE_DEG / RASTER_PIXELS
    frames = []
    for tile_id, values in tiles.items():
        lat_nw, lon_nw = Grid.parse_tile_id(tile_id)
        rows, cols = np.indices(values.shape)
        lat = lat_nw - (rows + 0.5) * size
        lon = lon_nw + (cols + 0.5) * size
        frames.append(pd.DataFrame({"lon": lon.ravel(), "lat": lat.ravel(), "value": values.ravel()}))
    px = pd.concat(frames, ignore_index=True)
    px = px[px["value"] != 0]
    half = math.radians(size / 2.0)
    lat_r = np.radians(px["lat"].to_numpy())
    area = EARTH_RADIUS_M**2 * math.radians(size) * np.abs(np.sin(lat_r + half) - np.sin(lat_r - half))
    return px.assign(area=area / 10_000.0)


def zonal_twin(pixels: pd.DataFrame, rect: tuple) -> dict[float, float]:
    inside = pixels[in_rect(pixels["lon"].to_numpy(), pixels["lat"].to_numpy(), rect)]
    return inside.groupby("value")["area"].sum().to_dict()


def zonal_matches(body: bytes, areas: dict[float, float]) -> bool:
    import json

    got = {row["umd_tree_cover_loss__year"]: row["sum(area__ha)"] for row in json.loads(body)["data"]}
    return got.keys() == areas.keys() and all(_same(float(got[k]), float(areas[k])) for k in areas)


# -- inventory --------------------------------------------------------------


def inventory_twins(tables_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    """Each inventory query's DuckDB oracle over the generated tables."""
    import __spark_entry__

    oracle = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for table in ("events", "documents"):
        path = f"{tables_dir}/{table}.parquet".replace("'", "''")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    out = {name: con.execute(oracle[name]).df() for name in names}
    con.close()
    return out


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        series = df[col]
        if pd.api.types.is_datetime64_any_dtype(series):
            df[col] = series.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(series):
            df[col] = series.astype("float64")
        elif pd.api.types.is_integer_dtype(series):
            df[col] = series.astype("int64")
        else:
            df[col] = series.map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same columns and, sorted, the same rows (floats to 1e-9)."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    a, b = _canonical(got), _canonical(want)
    rows_a = list(a.itertuples(index=False, name=None))
    rows_b = list(b.itertuples(index=False, name=None))
    return same_rows(rows_a, rows_b, ordered=True)
