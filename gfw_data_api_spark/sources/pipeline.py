"""Ingestion pipelines: source files → default asset → registry record.

The reference runs these as AWS Batch job DAGs
(app/tasks/table_source_assets.py:21-218, vector_source_assets.py:195-347,
app/tasks/default_assets.py); on Spark the whole DAG collapses into one
driver-side function per pipeline — Spark's scheduler replaces Batch
(SURVEY.md §3.3). Status and change-log bookkeeping are kept for API
parity: every asset job runs inside ``Registry.asset_job``.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfw_data_api_spark.catalog.registry import (
    Registry,
    RegistryError,
    default_asset_type,
    schema_from_fields,
)
from gfw_data_api_spark.sources import tabular, vector


def ingest_tabular(
    registry: Registry,
    spark: SparkSession,
    dataset: str,
    version: str,
    source_paths: list[str] | str,
    delimiter: str = ",",
    table_schema: list[tabular.FieldType] | None = None,
    latitude: str | None = None,
    longitude: str | None = None,
    wkb_hex_geometry: str | None = None,
    partitions: tabular.Partitions | None = None,
    cluster_on: list[str] | None = None,
    unique_on: list[str] | None = None,
    is_mutable: bool = False,
    make_latest: bool = True,
) -> DataFrame:
    """Table-source pipeline: E1 scan/infer → E4 point geometry → E2/E9/E10
    layout → write parquet → register default asset + fields."""
    registry.ensure_dataset(dataset)
    registry.create_version(dataset, version, is_mutable=is_mutable)
    has_lat_lng = latitude is not None and longitude is not None
    is_geo = has_lat_lng or wkb_hex_geometry is not None
    asset = registry.create_asset(
        dataset,
        version,
        default_asset_type("table", is_geo),
        is_default=True,
        creation_options={
            "source_paths": source_paths if isinstance(source_paths, list) else [source_paths],
            "delimiter": delimiter,
            "partitions": partitions.__dict__ if partitions else None,
            "cluster": cluster_on,
            "unique_constraint": unique_on,
            "latitude": latitude,
            "longitude": longitude,
            "wkb_hex_geometry": wkb_hex_geometry,
        },
    )
    with registry.asset_job(asset, "ingest complete"):
        df = tabular.read_tabular_source(spark, source_paths, delimiter, table_schema)
        if has_lat_lng:
            df = tabular.add_point_geometry(df, latitude, longitude)
        if wkb_hex_geometry is not None:
            # the reference's tabular geo fixtures carry WKB-hex text
            # geometry columns (tests/fixtures/test.csv); decode + derive
            # the GFW system columns like a vector source (E5)
            df = df.withColumn("geom", vector.wkb_from_hex(F.col(wkb_hex_geometry)))
            if wkb_hex_geometry != "geom":
                df = df.drop(wkb_hex_geometry)
            df = vector.add_gfw_fields(df)
        tabular.write_table(
            df, asset.asset_uri, partitions=partitions, cluster_on=cluster_on, unique_on=unique_on
        )
        result = spark.read.parquet(asset.asset_uri)
        registry.set_asset_fields(asset.asset_id, result)
    if make_latest:
        registry.set_latest(dataset, version)
    return result


def append_tabular(
    registry: Registry,
    spark: SparkSession,
    dataset: str,
    version: str,
    source_paths: list[str] | str,
    delimiter: str = ",",
) -> DataFrame:
    """E3 idempotent append: only to mutable versions (E16 guard); new rows
    anti-joined on the version's unique constraint before parquet append.

    The batch is read with the table's catalog types (``fields``), so a
    part file never differs in type from the table, and a subset batch
    is written with the missing columns as NULLs. A value that does not
    parse as its column's type, or a file whose header differs, is a 400
    and leaves no part file behind (the write job aborts as a whole).
    """
    registry.assert_appendable(dataset, version)
    asset = registry.get_default_asset(dataset, version)
    options = asset.creation_options
    unique_on = options.get("unique_constraint")
    columns = [f["name"] for f in asset.fields]
    try:
        headers = tabular.csv_headers(spark, source_paths, delimiter)
    except FileNotFoundError as exc:
        raise RegistryError(f"Append source {exc} does not exist.", 400) from None
    distinct_headers = {tuple(h) for h in headers.values()}
    if len(distinct_headers) > 1:
        raise RegistryError(
            f"Append source files have different headers: {sorted(distinct_headers)}.", 400
        )
    header = list(distinct_headers.pop()) if distinct_headers else []
    # "Schema of input file must match or be a subset of previous input
    # files" (versions.py:214-216): columns outside the target schema or
    # a source sharing NO columns are input errors, not silent drops —
    # unchecked, a disjoint CSV appends zero-column part files that
    # corrupt the asset directory for every later read.
    extra = [c for c in header if c not in columns]
    if extra:
        raise RegistryError(
            f"Append source has columns not in the target schema: {extra}.",
            400,
        )
    if not header:
        raise RegistryError(
            "Append source shares no columns with the target schema.", 400
        )
    keyless = [c for c in unique_on or [] if c not in header]
    if keyless:
        raise RegistryError(
            f"Append source lacks the unique constraint columns {keyless}.", 400
        )
    try:
        incoming = tabular.read_tabular_source(
            spark, source_paths, delimiter, schema=schema_from_fields(asset.fields, header)
        )
    except AnalysisException as exc:
        raise RegistryError(f"Append source cannot be read: {exc.getMessage()}", 400) from None
    latitude, longitude = options.get("latitude"), options.get("longitude")
    if latitude in header and longitude in header:
        incoming = tabular.add_point_geometry(incoming, latitude, longitude)
    existing = registry.load(spark, asset=asset)
    incoming = incoming.select(
        *[
            F.col(f.name) if f.name in incoming.columns else F.lit(None).cast(f.dataType).alias(f.name)
            for f in existing.schema.fields
            if f.name != "_part"
        ]
    )
    if unique_on:
        incoming = tabular.append_new_rows(existing, incoming, unique_on)
    partition_by = []
    if options.get("partitions"):
        # rows go to the table's partition directories: a flat part file
        # beside them is invisible to every read of the table
        partitions = tabular.Partitions(**options["partitions"])
        incoming = incoming.withColumn("_part", tabular.partition_expr(partitions))
        partition_by = ["_part"]
    try:
        incoming.write.mode("append").partitionBy(*partition_by).parquet(asset.asset_uri)
    except Py4JJavaError as exc:
        detail = _unparsable_source(exc)
        if detail is None:
            raise
        raise RegistryError(f"Append source does not match the table schema: {detail}", 400) from None
    registry.set_version_status(dataset, version, "saved", "append complete")
    return registry.load(spark, asset=asset)


def _unparsable_source(exc: Py4JJavaError) -> str | None:
    """What made Spark's strict CSV read fail — a value that does not
    parse as its column's type, or a header that differs from the
    schema — or None when the write failed for another reason."""
    cause = exc.java_exception
    while cause is not None:
        message = cause.getMessage() or ""
        if message.startswith("[MALFORMED_RECORD_IN_PARSING"):
            while cause.getCause() is not None:
                cause = cause.getCause()
            return f"a value does not parse as its column type ({cause.getMessage()})"
        if message.startswith("CSV header does not conform to the schema"):
            return " ".join(message.split())
        cause = cause.getCause()
    return None


def ingest_vector(
    registry: Registry,
    spark: SparkSession,
    dataset: str,
    version: str,
    source_path: str,
    source_driver: str = "GeoJSONSeq",
    make_latest: bool = True,
) -> DataFrame:
    """Vector-source pipeline: E6 scan → E5 GFW fields + E7 web-mercator →
    write parquet → register geo default asset."""
    registry.ensure_dataset(dataset)
    registry.create_version(dataset, version)
    asset = registry.create_asset(
        dataset,
        version,
        default_asset_type("vector"),
        is_default=True,
        creation_options={"source_path": source_path, "source_driver": source_driver},
    )
    with registry.asset_job(asset, "ingest complete"):
        if source_driver == "GeoJSONSeq":
            df = vector.read_geojson_seq(spark, source_path)
        elif source_driver == "GeoJSON":
            df = vector.read_feature_collection(spark, source_path)
        elif source_driver == "GPKG":
            from gfw_data_api_spark.sources.vector_files import read_geopackage

            df = read_geopackage(spark, source_path)
        elif source_driver == "ESRI Shapefile":
            from gfw_data_api_spark.sources.vector_files import read_shapefile

            df = read_shapefile(spark, source_path)
        elif source_driver == "ESRIJSON":
            from gfw_data_api_spark.sources.vector_files import read_esrijson

            df = read_esrijson(spark, source_path)
        elif source_driver == "FileGDB":
            # reference creation_options.py:15-23; pure-Python
            # OpenFileGDB-subset codec — GDBs outside the subset raise
            # FileGDBUnsupportedError with a conversion hint
            from gfw_data_api_spark.sources.vector_files import read_file_gdb

            df = read_file_gdb(spark, source_path)
        else:
            raise ValueError(f"unsupported vector driver: {source_driver}")
        df = vector.add_gfw_fields(df)
        df.write.mode("overwrite").parquet(asset.asset_uri)
        result = spark.read.parquet(asset.asset_uri)
        registry.set_asset_fields(asset.asset_id, result)
    if make_latest:
        registry.set_latest(dataset, version)
    return result


def export_version(
    registry: Registry,
    spark: SparkSession,
    dataset: str,
    version: str,
    fmt: str = "csv",
    sql: str | None = None,
    delimiter: str = ",",
) -> "object":
    """E12/E14 + asset registration: materialize an auxiliary export asset
    (csv/tsv/ndjson) for a version — the reference registers these as
    non-default assets beside the default table
    (app/tasks/static_vector_file_assets.py).

    Returns the created Asset. The export itself is a distributed write.
    """
    from gfw_data_api_spark.operators import downloads
    from gfw_data_api_spark.operators.query import execute_on_dataframe

    if fmt not in ("csv", "tsv", "ndjson"):
        raise ValueError(f"unsupported export format: {fmt}")
    df = registry.load(spark, dataset, version)
    if sql is not None:
        df = execute_on_dataframe(spark, df, sql)
    else:
        columns = registry.feature_info_fields(dataset, version)
        keep = [c for c in columns if c in df.columns]
        if fmt == "ndjson" and "gfw_geojson" in df.columns:
            keep = keep + ["gfw_geojson"]
        if keep:
            df = df.select(*keep)
    asset = registry.create_asset(dataset, version, fmt)
    with registry.asset_job(asset):
        if fmt == "ndjson":
            downloads.export_ndjson_features(df, asset.asset_uri, registry, dataset, version)
        else:
            downloads.write_csv(df, asset.asset_uri, "\t" if fmt == "tsv" else delimiter)
    return asset


def create_tile_cache_asset(
    registry: Registry,
    spark: SparkSession,
    dataset: str,
    version: str,
    min_zoom: int = 0,
    max_zoom: int = 5,
    max_features_per_tile: int | None = None,
) -> "object":
    """E15 as an asset job: build the MVT tile cache for a geo version and
    register it as a ``static_vector_tile_cache`` asset (the reference's
    app/tasks/static_vector_tile_cache_assets.py, tippecanoe replaced by
    operators/tilecache.py)."""
    from gfw_data_api_spark.operators.tilecache import build_tile_cache, write_tile_cache

    df = registry.load(spark, dataset, version)
    if "geom" not in df.columns or "gfw_bbox" not in df.columns:
        raise RegistryError("tile cache requires a geo version (geom + gfw_bbox)", 400)
    asset = registry.create_asset(
        dataset,
        version,
        "static_vector_tile_cache",
        creation_options={
            "min_zoom": min_zoom,
            "max_zoom": max_zoom,
            "max_features_per_tile": max_features_per_tile,
        },
    )
    with registry.asset_job(asset):
        tiles = build_tile_cache(
            spark,
            df,
            zooms=range(min_zoom, max_zoom + 1),
            layer_name=dataset,
            max_features_per_tile=max_features_per_tile,
        )
        write_tile_cache(tiles, asset.asset_uri)
    return asset


def create_raster_tile_cache_asset(
    registry: Registry,
    spark: SparkSession,
    dataset: str,
    version: str,
    colormap: dict[float, tuple[int, int, int]],
    min_zoom: int = 0,
    max_zoom: int = 3,
    kind: str = "discrete",
    method: str = "avg",
) -> "object":
    """The reference's ``raster_tile_cache`` asset job
    (app/tasks/raster_tile_cache_assets/*, gdal2tiles in
    batch/scripts/raster_tile_cache.sh) as a Spark plan: warp the
    version's raster_tile_set to each zoom's mercator grid, apply the
    symbology colormap, render z/x/y RGBA PNG tiles, and register the
    z/x-partitioned tile store as an asset."""
    from gfw_data_api_spark.raster.grid import Grid
    from gfw_data_api_spark.raster.tile_cache import raster_tile_cache

    src = registry.get_default_asset(dataset, version)
    if src.asset_type != "raster_tile_set":
        raise RegistryError(
            "raster tile cache requires a raster_tile_set default asset", 400
        )
    grid = Grid.parse(src.creation_options["grid"])
    asset = registry.create_asset(
        dataset,
        version,
        "raster_tile_cache",
        creation_options={
            "min_zoom": min_zoom,
            "max_zoom": max_zoom,
            "symbology": {
                "type": kind,
                "colormap": {str(k): list(v) for k, v in colormap.items()},
            },
            "resampling": method,
        },
    )
    with registry.asset_job(asset):
        pixels = spark.read.parquet(src.asset_uri)
        tiles = raster_tile_cache(
            pixels, grid, colormap, min_zoom, max_zoom, kind=kind, method=method
        )
        tiles.write.mode("overwrite").partitionBy("z", "x").parquet(asset.asset_uri)
    return asset


def create_cog_asset(
    registry: Registry,
    spark: SparkSession,
    dataset: str,
    version: str,
    tile_set_path: str,
    grid: "object",
    nodata: float | int = 0,
    dtype: str = "float32",
) -> "object":
    """P5 as an asset job: assemble a COG from a version's pixel tile set
    and register it (the reference's app/tasks/cog_assets.py)."""
    import os as _os

    from gfw_data_api_spark.raster.cog import cog_from_tile_set

    asset = registry.create_asset(dataset, version, "cog")
    with registry.asset_job(asset):
        _os.makedirs(asset.asset_uri, exist_ok=True)
        out = _os.path.join(asset.asset_uri, f"{dataset}_{version}.tif")
        cog_from_tile_set(spark, tile_set_path, grid, out, nodata=nodata, dtype=dtype)
    return asset
