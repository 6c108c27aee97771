"""Seeded input generation. The same seed gives byte-identical inputs.

Everything the engine sees is generated here, before set-up is timed:
the fire-alert-like point tables (CSV), the append batches, the raster
tiles, the ``events`` and ``documents`` tables the operator inventory
reads (parquet), and the request parameters. Coordinates sit on lattices chosen so
that every geometry predicate the workloads ask is unambiguous (no point
or pixel centre lies on a query boundary), which keeps the twins in
``twins.py`` exact.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pandas as pd

ISO_CODES = ["BRA", "IDN", "COD", "BOL", "MOZ", "PER", "COL", "MYS"]
CONFIDENCE = ["l", "n", "h"]
DATE0 = np.datetime64("2023-01-01")
N_DAYS = 365

# api_spatial geography: points and raster tiles share the 4 x 4 degree
# box lon 10..14, lat -2..2. Points sit on a 1e-4 degree lattice offset
# by half a step, query rectangles on 1e-2 degree edges, so no point lies
# on a rectangle edge.
SPATIAL_BOX = (10.0, -2.0, 14.0, 2.0)
POINT_STEP = 1e-4
# Grid "1/100": 1-degree tiles of 100 x 100 pixels (pixel 0.01 degrees)
# covering lon 11..13, lat -1..1; rectangles on 1e-2 edges fall on pixel
# edges, never on pixel centres.
RASTER_TILE_DEG = 1.0
RASTER_PIXELS = 100
RASTER_TILES = [(lat_nw, lon_nw) for lat_nw in (1, 0) for lon_nw in (11, 12)]
POOL = 8  # parameter variants per request kind; twins are computed for all
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_DAYS = 7
VOCABULARY = (
    "a the data spark stream batch table row column key value query scan filter sort join "
    "group agg hash window part line big small fast slow merge order"
).split()


def fire_alerts(rng: np.random.Generator, n: int, id0: int = 0) -> pd.DataFrame:
    """Fire-alert-like point rows. ``frp__MW`` has two decimals, as in the
    reference's VIIRS table, so sums compare exactly after rounding."""
    lon0, lat0, lon1, lat1 = SPATIAL_BOX
    nx = int(round((lon1 - lon0) / POINT_STEP))
    ny = int(round((lat1 - lat0) / POINT_STEP))
    days = rng.integers(0, N_DAYS, n)
    return pd.DataFrame(
        {
            "alert_id": np.arange(id0, id0 + n, dtype=np.int64),
            "iso": np.asarray(ISO_CODES)[rng.integers(0, len(ISO_CODES), n)],
            "adm1": rng.integers(1, 28, n),
            "alert__date": (DATE0 + days).astype(str),
            "alert__time_utc": rng.integers(0, 24, n) * 100 + rng.integers(0, 60, n),
            "latitude": np.round(lat0 + (rng.integers(0, ny, n) + 0.5) * POINT_STEP, 5),
            "longitude": np.round(lon0 + (rng.integers(0, nx, n) + 0.5) * POINT_STEP, 5),
            "frp__MW": rng.integers(1, 50_000, n) / 100.0,
            "confidence__cat": np.asarray(CONFIDENCE)[rng.integers(0, 3, n)],
            "is__peatland": rng.random(n) < 0.2,
        }
    )


def events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Rows shaped like the inventory's ``events`` table: microsecond
    timestamps over one week, two-decimal values."""
    us = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Rows shaped like the inventory's ``documents`` table. A fifth of
    the documents are copies of an earlier one with one word changed, so
    the near-duplicate operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCABULARY))
        else:
            words = list(rng.choice(VOCABULARY, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(["en", "zh", "es", "fr", "de"])[rng.integers(0, 5, n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)
    return path


def write_csv(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_csv(path, index=False, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
    return path


def rectangle(rng: np.random.Generator, min_deg: float, max_deg: float, box: tuple = SPATIAL_BOX) -> tuple:
    """A seeded rectangle inside ``box`` with edges on 1e-2 degrees."""
    lon0, lat0, lon1, lat1 = box
    w = rng.integers(int(min_deg * 100), int(max_deg * 100) + 1) / 100.0
    h = rng.integers(int(min_deg * 100), int(max_deg * 100) + 1) / 100.0
    x = lon0 + rng.integers(0, int((lon1 - lon0 - w) * 100)) / 100.0
    y = lat0 + rng.integers(0, int((lat1 - lat0 - h) * 100)) / 100.0
    return (round(x, 2), round(y, 2), round(x + w, 2), round(y + h, 2))


def raster_tile_box(rng: np.random.Generator) -> tuple:
    """The extent of one seeded raster tile: a zonal rectangle inside it
    always masks exactly one partial tile, so every seed does the same
    work."""
    lat_nw, lon_nw = RASTER_TILES[rng.integers(0, len(RASTER_TILES))]
    return (float(lon_nw), float(lat_nw - RASTER_TILE_DEG), float(lon_nw + RASTER_TILE_DEG), float(lat_nw))


def polygon(rect: tuple) -> dict:
    x0, y0, x1, y1 = rect
    return {
        "type": "Polygon",
        "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]],
    }


def raster_tiles(rng: np.random.Generator) -> dict[str, np.ndarray]:
    """Tree-cover-loss-year-like tiles: 0 (no data) or a loss year."""
    from gfw_data_api_spark.raster.grid import Grid

    years = np.array([0, 0, 2005, 2010, 2015, 2020], dtype=np.float64)
    return {
        Grid.format_tile_id(lat_nw, lon_nw): years[
            rng.integers(0, len(years), (RASTER_PIXELS, RASTER_PIXELS))
        ]
        for lat_nw, lon_nw in RASTER_TILES
    }


def sql_templates(r: np.random.Generator) -> dict[str, dict]:
    """One seeded instance of each api_sql request kind: the SQL sent to
    the API and its DuckDB twin. The PG kinds lean on the dialect's
    rewrites (``::`` casts, date_trunc, to_char, interval arithmetic,
    extract)."""
    code = ISO_CODES[r.integers(0, len(ISO_CODES))]
    conf, adm = CONFIDENCE[r.integers(0, 3)], int(r.integers(5, 28))
    limit = int(r.integers(5, 30))
    day = str(DATE0 + int(r.integers(60, N_DAYS)))
    lag, hours = int(r.integers(10, 60)), int(r.integers(2, 20))
    groupby = (
        "SELECT iso, count(*) AS n, round(sum(frp__MW), 2) AS frp FROM data "
        f"WHERE confidence__cat = '{conf}' AND adm1 < {adm} GROUP BY iso"
    )
    topn = (
        f"SELECT alert_id, frp__MW FROM data WHERE iso = '{code}' "
        f"ORDER BY frp__MW DESC, alert_id LIMIT {limit}"
    )
    # sums of two-decimal values round exactly; an average could sit on a
    # half-cent, where two engines may round one double differently
    csv_sql = (
        "SELECT adm1, count(*) AS n, round(sum(frp__MW), 2) AS frp FROM data "
        f"WHERE iso = '{code}' GROUP BY adm1 ORDER BY adm1"
    )
    latest = f"SELECT count(*) AS n FROM data WHERE alert__date >= '{day}' AND is__peatland"
    pg_trunc = (
        "SELECT date_trunc('month', alert__date)::date AS month, "
        "to_char(alert__date, 'YYYY-MM') AS label, count(*)::int AS n FROM data "
        f"WHERE alert__date >= '{day}'::date - interval '{lag} days' GROUP BY 1, 2 ORDER BY 1"
    )
    pg_interval = (
        "SELECT extract(dow FROM alert__date)::int AS dow, count(*) AS n, "
        f"sum(CASE WHEN alert__time_utc::text::int >= {hours * 100} THEN 1 ELSE 0 END) AS late "
        f"FROM data WHERE alert__date + interval '{hours} hours' > '{day}'::timestamp GROUP BY 1"
    )
    return {
        "groupby": dict(fmt="json", sql=groupby, twin=groupby, columns=["iso", "n", "frp"], ordered=False),
        "topn": dict(fmt="json", sql=topn, twin=topn, columns=["alert_id", "frp__MW"], ordered=True),
        "csv": dict(fmt="csv", sql=csv_sql, twin=csv_sql, columns=None, ordered=True),
        "latest": dict(fmt="latest", sql=latest, twin=latest, columns=["n"], ordered=False),
        "pg_trunc": dict(
            fmt="json",
            sql=pg_trunc,
            twin=(
                "SELECT CAST(date_trunc('month', alert__date) AS DATE) AS month, "
                "strftime(alert__date, '%Y-%m') AS label, CAST(count(*) AS INTEGER) AS n FROM data "
                f"WHERE alert__date >= DATE '{day}' - INTERVAL {lag} DAY GROUP BY 1, 2 ORDER BY 1"
            ),
            columns=["month", "label", "n"],
            ordered=True,
        ),
        "pg_interval": dict(
            fmt="json",
            sql=pg_interval,
            twin=(
                "SELECT CAST(dayofweek(alert__date) AS INTEGER) AS dow, count(*) AS n, "
                f"sum(CASE WHEN alert__time_utc >= {hours * 100} THEN 1 ELSE 0 END) AS late "
                f"FROM data WHERE alert__date + INTERVAL {hours} HOUR > TIMESTAMP '{day}' GROUP BY 1"
            ),
            columns=["dow", "n", "late"],
            ordered=False,
        ),
    }
