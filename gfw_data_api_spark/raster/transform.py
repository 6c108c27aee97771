"""Raster ETL transforms (SURVEY.md §2.5 P2/P4/P7/P8).

The reference delegates these to pixETL / GDAL containers; on the pixel
table model they are ordinary DataFrame jobs:

- P2 band algebra: join input tile sets on (tile_id, pixel_id), evaluate
  the calc (built-ins native, NumPy fallback) → new tile set.
- P4 downsample pyramid: a 2^k×2^k block reduce = integer pixel-id math
  + groupBy with the chosen resampling aggregate — map-side partials, one
  shuffle per level.
- P7 stats + exact histogram: width_bucket-style floor() binning — exact
  in one pass, no per-tile histogram merge step needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfw_data_api_spark.catalog.registry import Registry
from gfw_data_api_spark.raster.grid import Grid
from gfw_data_api_spark.raster.zonal import _calc_column

RESAMPLING_AGGS = {
    "nearest": lambda c: F.first(c),
    "average": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "sum": lambda c: F.sum(c),
    "med": lambda c: F.median(c),
    "mode": lambda c: F.mode(c),
}


def band_algebra(
    spark: SparkSession,
    registry: Registry,
    output_dataset: str,
    output_version: str,
    grid: Grid,
    pixel_meaning: str,
    calc: str,
    input_uris: dict[str, str],
    no_data: float | int | None = 0,
) -> DataFrame:
    """P2: evaluate ``calc`` over bands A, B, ... bound to input tile sets.

    ``input_uris`` maps band letters to pixel-table paths. The first band
    is the base extent (union_bands=intersection semantics come from the
    inner join; left joins would give union with nulls).
    """
    bands = sorted(input_uris)
    df = spark.read.parquet(input_uris[bands[0]]).withColumnRenamed("value", bands[0])
    for band in bands[1:]:
        other = spark.read.parquet(input_uris[band]).withColumnRenamed("value", band)
        df = df.join(other, ["tile_id", "pixel_id"])

    from gfw_data_api_spark.raster.pixels import area_ha_col, latitude_col

    lat = latitude_col(grid, F.col("tile_id"), F.col("pixel_id"))
    area = area_ha_col(grid, lat)
    if len(bands) == 1:
        value = _calc_column(calc, F.col(bands[0]), area)
    else:
        # multi-band calcs: only simple arithmetic over A,B,... supported
        # natively; route through SQL expression on the band columns
        value = F.expr(calc)
    out = df.select("tile_id", "pixel_id", value.cast("double").alias("value"))
    if no_data is not None:
        out = out.filter(F.col("value") != no_data)

    from gfw_data_api_spark.raster.pixels import write_tile_set

    registry.ensure_dataset(output_dataset)
    registry.ensure_version(output_dataset, output_version)
    asset = registry.create_asset(
        output_dataset,
        output_version,
        "raster_tile_set",
        is_default=True,
        creation_options={
            "grid": grid.name,
            "pixel_meaning": pixel_meaning,
            "no_data": no_data,
            "band_count": 1,
            "calc": calc,
        },
    )
    with registry.asset_job(asset, "band algebra"):
        write_tile_set(out, asset.asset_uri)
    registry.set_latest(output_dataset, output_version)
    return spark.read.parquet(asset.asset_uri)


def downsample(
    df: DataFrame,
    grid: Grid,
    factor: int,
    method: str = "average",
) -> DataFrame:
    """P4: one pyramid level — aggregate factor×factor pixel blocks.

    Pixel ids are row-major; the parent pixel of (row, col) at reduction
    ``factor`` is (row//factor, col//factor) on an n/factor-wide tile.
    Pure integer column math + one aggregation.
    """
    if grid.pixels_per_side % factor:
        raise ValueError("factor must divide the tile size")
    n = grid.pixels_per_side
    parent_n = n // factor
    row = F.floor(F.col("pixel_id") / n)
    col = F.col("pixel_id") % n
    parent_id = F.floor(row / factor) * parent_n + F.floor(col / factor)
    agg = RESAMPLING_AGGS[method](F.col("value")).alias("value")
    return (
        df.withColumn("_parent", parent_id.cast("bigint"))
        .groupBy("tile_id", F.col("_parent").alias("pixel_id"))
        .agg(agg)
    )


def apply_colormap(
    df: DataFrame,
    colormap: dict[float, tuple[int, int, int]],
    kind: str = "discrete",
) -> DataFrame:
    """P6: symbology encode — map pixel values to RGB natively.

    Reference: apply_colormap.py / raster_tile_cache symbology
    (app/tasks/raster_tile_cache_assets/symbology.py:52-123). ``discrete``
    matches exact values; ``gradient`` linearly interpolates between the
    sorted breakpoints. Output adds r/g/b columns plus a packed
    ``rgb_int`` — all column math, the visualization pipeline stays on
    the JVM.
    """
    value = F.col("value")
    breaks = sorted(colormap)
    if kind == "discrete":
        channels = []
        for i in range(3):
            expr = None
            for v in breaks:
                cond = value == F.lit(float(v))
                band = F.lit(colormap[v][i])
                expr = F.when(cond, band) if expr is None else expr.when(cond, band)
            channels.append(expr.otherwise(F.lit(0)).cast("int"))
    elif kind == "gradient":
        channels = []
        for i in range(3):
            expr = F.lit(float(colormap[breaks[0]][i]))
            for lo, hi in zip(breaks[:-1], breaks[1:]):
                frac = (value - F.lit(float(lo))) / F.lit(float(hi - lo))
                interp = F.lit(float(colormap[lo][i])) + frac * F.lit(
                    float(colormap[hi][i] - colormap[lo][i])
                )
                expr = F.when((value >= float(lo)) & (value <= float(hi)), interp).otherwise(expr)
            channels.append(F.round(expr).cast("int"))
    else:
        raise ValueError("colormap kind must be 'discrete' or 'gradient'")
    r, g, b = channels
    return (
        df.withColumn("r", r)
        .withColumn("g", g)
        .withColumn("b", b)
        .withColumn("rgb_int", (F.col("r") * 65536 + F.col("g") * 256 + F.col("b")).cast("int"))
    )


def raster_stats(df: DataFrame) -> dict:
    """P7/P8: global stats + extent inputs in a single pass."""
    row = df.agg(
        F.count("*").alias("n_pixels"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.avg("value").alias("mean"),
        F.stddev_pop("value").alias("stddev"),
        F.countDistinct("tile_id").alias("n_tiles"),
    ).collect()[0]
    return {k: (float(v) if v is not None else None) for k, v in row.asDict().items()}


def histogram(df: DataFrame, bins: int = 10, value_min: float | None = None, value_max: float | None = None) -> DataFrame:
    """P7: exact histogram via floor-binning — one aggregation, no
    cross-tile merge/re-binning step (the reference merges per-tile
    histograms approximately, app/utils/stats.py:38-89; exact is free on
    Spark)."""
    if value_min is None or value_max is None:
        bounds = df.agg(F.min("value"), F.max("value")).collect()[0]
        value_min = value_min if value_min is not None else float(bounds[0])
        value_max = value_max if value_max is not None else float(bounds[1])
    width = (value_max - value_min) / bins or 1.0
    bucket = F.least(
        F.floor((F.col("value") - F.lit(value_min)) / F.lit(width)), F.lit(bins - 1)
    ).cast("int")
    return (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("count"))
        .withColumn("low", F.lit(value_min) + F.col("bucket") * F.lit(width))
        .withColumn("high", F.lit(value_min) + (F.col("bucket") + 1) * F.lit(width))
        .orderBy("bucket")
    )
