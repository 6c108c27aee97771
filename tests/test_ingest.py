"""Ingestion pipeline tests — ports of the reference's golden-state
assertions (tests/tasks/test_table_source_assets.py:116-119, 312-316:
99-row loads, partition counts, append dedup)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from gfw_data_api_spark.catalog import Registry, RegistryError
from gfw_data_api_spark.sources.pipeline import append_tabular, ingest_tabular, ingest_vector
from gfw_data_api_spark.sources.tabular import FieldType, Partitions

pytestmark = pytest.mark.usefixtures("catalog_schema_check")

ROWS = 99  # the reference's golden fixture size


def _write_fixture_csv(path, start=0, rows=ROWS, delimiter=","):
    import csv

    with open(path, "w", newline="") as fh:
        writer = csv.writer(fh, delimiter=delimiter)
        writer.writerow(
            ["alert_id", "iso", "longitude", "latitude", "alert_date", "confidence", "frp"]
        )
        for i in range(start, start + rows):
            writer.writerow(
                [
                    i,
                    ["MOZ", "BOL", "BRA"][i % 3],
                    -180 + (i * 3.61) % 360,
                    -60 + (i * 1.23) % 120,
                    f"2024-01-{(i % 28) + 1:02d}",
                    ["l", "n", "h"][i % 3],
                    round(1.5 + i * 0.25, 2),
                ]
            )


@pytest.fixture()
def registry(tmp_path):
    return Registry(str(tmp_path / "catalog"))


def test_tabular_ingest_golden_counts(spark, registry, tmp_path):
    csv_path = str(tmp_path / "load1.csv")
    _write_fixture_csv(csv_path)
    df = ingest_tabular(
        registry,
        spark,
        "fire_alerts",
        "v202401",
        csv_path,
        latitude="latitude",
        longitude="longitude",
        unique_on=["alert_id"],
    )
    assert df.count() == ROWS
    # E4: point geometry + web-mercator columns derived and non-null
    assert df.filter(F.col("geom").isNull()).count() == 0
    assert df.filter(F.col("geom_wm_x").isNull() | F.col("geom_wm_y").isNull()).count() == 0
    # fields metadata harvested (information_schema analog)
    fields = {f["name"] for f in registry.get_default_asset("fire_alerts", "v202401").fields}
    assert {"alert_id", "iso", "geom"} <= fields
    assert registry.resolve_version("fire_alerts", "latest") == "v202401"


def test_append_dedup(spark, registry, tmp_path):
    load1 = str(tmp_path / "load1.csv")
    append1 = str(tmp_path / "append1.csv")
    _write_fixture_csv(load1)
    # 50 overlapping + 49 new rows
    _write_fixture_csv(append1, start=49, rows=99)
    ingest_tabular(
        registry,
        spark,
        "fire_alerts",
        "nrt",
        load1,
        unique_on=["alert_id"],
        is_mutable=True,
    )
    result = append_tabular(registry, spark, "fire_alerts", "nrt", append1)
    # ON CONFLICT DO NOTHING semantics: 99 + 49 new
    assert result.count() == ROWS + 49
    assert result.select("alert_id").distinct().count() == ROWS + 49


def _write_rows(path, header, rows):
    import csv

    with open(path, "w", newline="") as fh:
        writer = csv.writer(fh)
        writer.writerow(header)
        writer.writerows(rows)
    return path


def test_append_dedup_null_and_repeated_keys(spark, registry, tmp_path):
    """The batch keeps the rows of ``dropDuplicates`` plus an anti-join
    against the table's DISTINCT keys: one row per repeated key, one row
    for all NULL keys (NULL never matches the table)."""
    load1 = _write_rows(str(tmp_path / "load1.csv"), ["alert_id", "iso"], [[1, "MOZ"], [2, "BOL"], ["", "BRA"]])
    batch = _write_rows(
        str(tmp_path / "batch.csv"),
        ["alert_id", "iso"],
        [["", "A"], ["", "B"], [2, "C"], [7, "D"], [7, "E"], [8, "F"], [1, "G"]],
    )
    ingest_tabular(registry, spark, "keys", "v1", load1, unique_on=["alert_id"], is_mutable=True)
    before = registry.load(spark, "keys", "v1")
    incoming = spark.read.schema(before.schema).option("header", True).csv(batch)
    keep = incoming.dropDuplicates(["alert_id"]).join(
        before.select("alert_id").distinct(), on="alert_id", how="left_anti"
    )
    want = [r["alert_id"] for r in keep.collect()]
    base = [r["alert_id"] for r in before.collect()]

    after = append_tabular(registry, spark, "keys", "v1", batch)
    got = [r["alert_id"] for r in after.collect()]
    assert sorted(want, key=str) == [7, 8, None]
    assert sorted(got, key=str) == sorted(base + want, key=str)

    # a batch without the key cannot be deduplicated against the table
    keyless = _write_rows(str(tmp_path / "keyless.csv"), ["iso"], [["A"], ["B"]])
    with pytest.raises(RegistryError, match="unique constraint"):
        append_tabular(registry, spark, "keys", "v1", keyless)


def test_append_to_partitioned_table_lands_in_partitions(spark, registry, tmp_path):
    """Appended rows are written under the table's ``_part`` directories;
    a flat part file beside them would be invisible to every read."""
    load1 = str(tmp_path / "load1.csv")
    batch = str(tmp_path / "batch.csv")
    _write_fixture_csv(load1)
    _write_fixture_csv(batch, start=90, rows=20)
    ingest_tabular(
        registry, spark, "fire_alerts", "hashed", load1, unique_on=["alert_id"], is_mutable=True,
        partitions=Partitions(partition_type="hash", partition_column="alert_id", partition_count=4),
    )
    result = append_tabular(registry, spark, "fire_alerts", "hashed", batch)
    assert result.count() == ROWS + 11
    asset = registry.get_default_asset("fire_alerts", "hashed")
    assert not glob.glob(os.path.join(asset.asset_uri, "*.parquet"))
    assert spark.read.parquet(asset.asset_uri).count() == ROWS + 11


def test_load_reads_catalog_schema_without_a_job(spark, registry, tmp_path, spark_jobs_started):
    csv_path = str(tmp_path / "load1.csv")
    _write_fixture_csv(csv_path)
    ingest_tabular(registry, spark, "fire_alerts", "v1", csv_path, latitude="latitude", longitude="longitude")
    asset = registry.get_default_asset("fire_alerts", "v1")
    inferred = spark.read.parquet(asset.asset_uri).schema
    jobs = spark_jobs_started(spark)
    df = registry.load(spark, "fire_alerts", "v1")
    assert df.schema == inferred
    assert spark_jobs_started(spark) == jobs
    # an asset with no recorded fields still reads, by inference
    asset.fields = []
    assert registry.load(spark, asset=asset).schema == inferred

    # any column name survives the DDL the schema is parsed from
    odd = _write_rows(str(tmp_path / "odd.csv"), ["a b", "c`d", "e:f,g", "Upper"], [[1, "x", 2.5, "y"]])
    ingest_tabular(registry, spark, "odd_names", "v1", odd)
    df = registry.load(spark, "odd_names", "v1")
    assert df.columns == ["a b", "c`d", "e:f,g", "Upper"]
    assert df.schema == spark.read.parquet(registry.get_default_asset("odd_names", "v1").asset_uri).schema


def test_append_requires_mutable(spark, registry, tmp_path):
    from gfw_data_api_spark.catalog import RegistryError

    load1 = str(tmp_path / "load1.csv")
    _write_fixture_csv(load1)
    ingest_tabular(registry, spark, "fire_alerts", "static", load1, is_mutable=False)
    with pytest.raises(RegistryError):
        append_tabular(registry, spark, "fire_alerts", "static", load1)


def test_partitioned_ingest_layout(spark, registry, tmp_path):
    csv_path = str(tmp_path / "load1.csv")
    _write_fixture_csv(csv_path)
    partitions = Partitions(
        partition_type="list",
        partition_column="iso",
        partition_schema=[
            {"partition_suffix": "moz", "value_list": ["MOZ"]},
            {"partition_suffix": "bol", "value_list": ["BOL"]},
        ],
    )
    df = ingest_tabular(
        registry,
        spark,
        "fire_alerts",
        "parted",
        csv_path,
        partitions=partitions,
        cluster_on=["alert_date"],
    )
    assert df.count() == ROWS
    asset = registry.get_default_asset("fire_alerts", "parted")
    part_dirs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(asset.asset_uri, "_part=*"))
    )
    assert part_dirs == ["_part=bol", "_part=default", "_part=moz"]
    # partition pruning: reading one partition returns only its rows
    pruned = spark.read.parquet(asset.asset_uri).filter(F.col("_part") == "moz")
    assert pruned.count() == df.filter(F.col("iso") == "MOZ").count()


def test_schema_override(spark, registry, tmp_path):
    csv_path = str(tmp_path / "load1.csv")
    _write_fixture_csv(csv_path)
    df = ingest_tabular(
        registry,
        spark,
        "fire_alerts",
        "typed",
        csv_path,
        table_schema=[FieldType("confidence", "text"), FieldType("frp", "numeric")],
    )
    types = dict(df.dtypes)
    assert types["confidence"] == "string"
    assert types["frp"].startswith("decimal")


def test_vector_ingest_gfw_fields(spark, registry, tmp_path):
    import json

    path = str(tmp_path / "features.geojsonl")
    with open(path, "w") as fh:
        for i in range(10):
            x, y = i * 2.0, i * 1.0
            feature = {
                "type": "Feature",
                "properties": {"fid": i, "name": f"area_{i}"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[x, y], [x + 0.5, y], [x + 0.5, y + 0.5], [x, y + 0.5], [x, y]]
                    ],
                },
            }
            fh.write(json.dumps(feature) + "\n")

    df = ingest_vector(registry, spark, "protected_areas", "v1", path)
    assert df.count() == 10
    row = df.filter(F.col("fid") == 0).collect()[0]
    assert row["gfw_area__ha"] == pytest.approx(30_800_000 / 100.0, rel=0.01)  # ~0.5°x0.5° at equator
    assert len(row["gfw_geostore_id"]) == 36  # uuid-formatted md5
    assert row["gfw_bbox"] == [0.0, 0.0, 0.5, 0.5]
    assert row["geom_wm"] is not None
    # asset registered as geo table
    assert registry.get_default_asset("protected_areas", "v1").asset_type == "geo_database_table"


def test_vector_spatial_query_end_to_end(spark, registry, tmp_path):
    """Ingested vector version answers a guarded query with geometry filter."""
    import json

    from gfw_data_api_spark.operators.query import execute_on_dataframe

    path = str(tmp_path / "features.geojsonl")
    with open(path, "w") as fh:
        for i in range(20):
            x = float(i)
            feature = {
                "type": "Feature",
                "properties": {"fid": i},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[x, 0], [x + 0.4, 0], [x + 0.4, 0.4], [x, 0.4], [x, 0]]],
                },
            }
            fh.write(json.dumps(feature) + "\n")
    ingest_vector(registry, spark, "areas", "v1", path)
    df = registry.load(spark, "areas", "latest")
    query_geom = {
        "type": "Polygon",
        "coordinates": [[[0, 0], [5, 0], [5, 1], [0, 1], [0, 0]]],
    }
    result = execute_on_dataframe(
        spark, df, "SELECT count(*) AS cnt FROM data", geometry=query_geom
    ).collect()
    # polygons at x=0..5 intersect (x=5 touches at the corner)
    assert result[0]["cnt"] == 6


def test_wkb_hex_geometry_ingest(spark, registry, tmp_path):
    """The reference's tabular geo path: CSV with a WKB-hex geom column
    (tests/fixtures/test.csv) becomes a geo_database_table with GFW
    system columns."""
    import csv

    from gfw_data_api_spark.functions import geometry as geo

    path = str(tmp_path / "geo.csv")
    with open(path, "w", newline="") as fh:
        writer = csv.writer(fh)
        writer.writerow(["fid", "geom"])
        for i in range(5):
            poly = {
                "type": "Polygon",
                "coordinates": [
                    [[i, 0], [i + 0.3, 0], [i + 0.3, 0.3], [i, 0.3], [i, 0]]
                ],
            }
            writer.writerow([i, geo.wkb_dumps(poly).hex()])

    df = ingest_tabular(
        registry, spark, "geo_csv", "v1", path, wkb_hex_geometry="geom"
    )
    assert df.count() == 5
    assert registry.get_default_asset("geo_csv", "v1").asset_type == "geo_database_table"
    row = df.filter(F.col("fid") == 2).collect()[0]
    assert row["gfw_bbox"] == [2.0, 0.0, 2.3, 0.3]
    assert row["gfw_area__ha"] > 0
    decoded = geo.wkb_loads(bytes(row["geom"]))
    assert decoded["type"] == "Polygon"


def test_hash_and_range_partitions(spark, registry, tmp_path):
    csv_path = str(tmp_path / "load1.csv")
    _write_fixture_csv(csv_path)
    # hash partitioning: N buckets
    df = ingest_tabular(
        registry, spark, "fire_alerts", "hashed", csv_path,
        partitions=Partitions(partition_type="hash", partition_column="alert_id", partition_count=4),
    )
    asset = registry.get_default_asset("fire_alerts", "hashed")
    parts = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(asset.asset_uri, "_part=*"))
    )
    assert len(parts) == 4
    assert spark.read.parquet(asset.asset_uri).count() == ROWS

    # range partitioning on the date column
    rparts = Partitions(
        partition_type="range",
        partition_column="alert_date",
        partition_schema=[
            {"partition_suffix": "early", "start_value": "2024-01-01", "end_value": "2024-01-15"},
            {"partition_suffix": "late", "start_value": "2024-01-15", "end_value": "2024-02-01"},
        ],
    )
    df2 = ingest_tabular(
        registry, spark, "fire_alerts", "ranged", csv_path,
        table_schema=[FieldType("alert_date", "text")],
        partitions=rparts,
    )
    asset2 = registry.get_default_asset("fire_alerts", "ranged")
    parts2 = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(asset2.asset_uri, "_part=*"))
    )
    assert parts2 == ["_part=early", "_part=late"]
    early = spark.read.parquet(asset2.asset_uri).filter(F.col("_part") == "early")
    assert early.count() == df2.filter(F.col("alert_date") < "2024-01-15").count()


def test_vector_inference_null_properties(spark, registry, tmp_path):
    """A null property in early features must not force the column to
    string once later features carry typed values."""
    import json

    path = str(tmp_path / "nulls.geojsonl")
    with open(path, "w") as fh:
        rows = [
            {"fid": 0, "score": None},
            {"fid": 1, "score": 3.5},
            {"fid": 2, "score": None},
        ]
        for props in rows:
            fh.write(
                json.dumps(
                    {
                        "type": "Feature",
                        "properties": props,
                        "geometry": {"type": "Point", "coordinates": [props["fid"], 0.0]},
                    }
                )
                + "\n"
            )
    df = ingest_vector(registry, spark, "nullprops", "v1", path)
    types = dict(df.dtypes)
    assert types["score"] == "double"
    assert df.filter(F.col("score").isNull()).count() == 2
