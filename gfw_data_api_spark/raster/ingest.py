"""Raster tile-set ingestion: arrays → pixel parquet → registry asset.

The P1/P2 analog (SURVEY.md §2.5): the reference delegates to the pixETL
container (app/tasks/raster_tile_set_assets/raster_tile_set_assets.py:
36-117); here a tile set is materialized as a tile-partitioned pixel
table. ``calc`` band algebra over existing tile sets runs as a join +
column expression (raster/zonal.py:_calc_column machinery).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfw_data_api_spark.catalog.registry import Registry
from gfw_data_api_spark.raster.grid import Grid
from gfw_data_api_spark.raster.pixels import tile_set_from_array, write_tile_set


def ingest_raster_tiles(
    registry: Registry,
    spark: SparkSession,
    dataset: str,
    version: str,
    grid: Grid,
    pixel_meaning: str,
    tiles: dict[str, np.ndarray],
    no_data: float | int | None = 0,
    values_table: dict | None = None,
    make_latest: bool = True,
) -> DataFrame:
    """Materialize arrays as a raster_tile_set default asset."""
    registry.ensure_dataset(dataset)
    registry.ensure_version(dataset, version)
    asset = registry.create_asset(
        dataset,
        version,
        "raster_tile_set",
        is_default=not any(a.is_default for a in registry.assets_for(dataset, version)),
        creation_options={
            "grid": grid.name,
            "pixel_meaning": pixel_meaning,
            "no_data": no_data,
            "band_count": 1,
            "values_table": values_table,
        },
    )
    with registry.asset_job(asset, "raster ingest complete"):
        parts = [
            tile_set_from_array(spark, grid, tile_id, values, no_data)
            for tile_id, values in tiles.items()
        ]
        df = parts[0]
        for part in parts[1:]:
            df = df.unionByName(part)
        write_tile_set(df, asset.asset_uri)
        result = spark.read.parquet(asset.asset_uri)
    if make_latest:
        registry.set_latest(dataset, version)

    # P7/P8: stats + extent persisted on the asset
    stats = result.agg(
        F.count("*").alias("n_pixels"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.avg("value").alias("mean"),
    ).collect()[0]
    asset.stats = {k: (float(v) if v is not None else None) for k, v in stats.asDict().items()}
    registry.save()
    return result
