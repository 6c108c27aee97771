"""Feature lookup, downloads/exports, and streaming append tests
(reference: test_features.py, downloads routes, append flow)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from gfw_data_api_spark.catalog import Registry, RegistryError
from gfw_data_api_spark.operators import downloads, features
from gfw_data_api_spark.sources.pipeline import ingest_tabular, ingest_vector
from gfw_data_api_spark.sources.tabular import Partitions

pytestmark = pytest.mark.usefixtures("catalog_schema_check")


@pytest.fixture(scope="module")
def vector_registry(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("featdl")
    registry = Registry(str(tmp / "catalog"))
    path = str(tmp / "areas.geojsonl")
    with open(path, "w") as fh:
        for i in range(10):
            x = float(i)
            fh.write(
                json.dumps(
                    {
                        "type": "Feature",
                        "properties": {"fid": i, "name": f"area_{i}"},
                        "geometry": {
                            "type": "Polygon",
                            "coordinates": [
                                [[x, 0.0], [x + 0.4, 0.0], [x + 0.4, 0.4], [x, 0.4], [x, 0.0]]
                            ],
                        },
                    }
                )
                + "\n"
            )
    ingest_vector(registry, spark, "areas", "v1", path)
    return registry


def test_features_by_location(spark, vector_registry):
    # point inside feature 3's box
    out = features.features_by_location(spark, vector_registry, "areas", "v1", 0.2, 3.2, zoom=18)
    rows = out.collect()
    assert [r["fid"] for r in rows] == [3]
    # feature-info selection excludes geom columns
    assert "geom" not in out.columns and "fid" in out.columns


def test_features_by_location_zoom_radius(spark, vector_registry):
    # zoom 0 → 500 km buffer → catches many features
    out = features.features_by_location(spark, vector_registry, "areas", "v1", 0.2, 3.2, zoom=0)
    assert out.count() > 3


def test_bad_zoom_rejected(spark, vector_registry):
    with pytest.raises(RegistryError):
        features.features_by_location(spark, vector_registry, "areas", "v1", 0.2, 3.2, zoom=99)


def test_feature_by_id(spark, vector_registry):
    rows = features.feature_by_id(spark, vector_registry, "areas", "v1", "fid", 7).collect()
    assert len(rows) == 1 and rows[0]["name"] == "area_7"


def test_download_csv_quoting(spark, vector_registry):
    df = downloads.query_for_download(
        spark, vector_registry, "areas", "v1",
        "SELECT fid, name FROM data WHERE fid < 3",
    )
    text = downloads.rows_to_csv(df.orderBy("fid"))
    lines = text.strip().splitlines()
    assert lines[0] == '"fid","name"'
    assert lines[1] == '0,"area_0"'  # QUOTE_NONNUMERIC: strings quoted, numbers not


def test_download_not_downloadable(spark, vector_registry):
    vector_registry.get_dataset("areas").is_downloadable = False
    try:
        with pytest.raises(RegistryError) as exc:
            downloads.query_for_download(
                spark, vector_registry, "areas", "v1", "SELECT fid FROM data"
            )
        assert exc.value.status_code == 403
    finally:
        vector_registry.get_dataset("areas").is_downloadable = True


def test_export_ndjson_features(spark, vector_registry, tmp_path):
    df = vector_registry.load(spark, "areas", "v1")
    out_dir = str(tmp_path / "ndjson")
    downloads.export_ndjson_features(df, out_dir, vector_registry, "areas", "v1")
    lines = []
    for name in os.listdir(out_dir):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name)) as fh:
                lines += [json.loads(line) for line in fh if line.strip()]
    assert len(lines) == 10
    feat = next(line for line in lines if line["properties"]["fid"] == 0)
    assert feat["type"] == "Feature"
    assert feat["geometry"]["type"] == "Polygon"


def test_export_grid_1x1(spark, vector_registry):
    df = vector_registry.load(spark, "areas", "v1")
    tagged = downloads.export_grid_1x1(spark, df)
    rows = tagged.select("fid", "gfw_grid_1x1_id").collect()
    by_fid = {r["fid"]: r["gfw_grid_1x1_id"] for r in rows}
    # each 0.4° box sits inside exactly one 1×1 cell
    assert len(rows) == 10
    assert by_fid[0] == "1N_0E"
    assert by_fid[3] == "1N_3E"


def test_export_grid_1x1_clipped(spark):
    from gfw_data_api_spark.functions import geometry as geo

    # a 2×1° rectangle straddling two cells: clip=True cuts it per cell
    rect = {
        "type": "Polygon",
        "coordinates": [[[0.25, 0.25], [1.75, 0.25], [1.75, 0.75], [0.25, 0.75], [0.25, 0.25]]],
    }
    df = spark.createDataFrame(
        [(1, bytearray(geo.wkb_dumps(rect)), list(geo.bbox(rect)))],
        "fid int, geom binary, gfw_bbox array<double>",
    )
    out = downloads.export_grid_1x1(spark, df, clip=True, simplify_tol=0.0)
    rows = {r["gfw_grid_1x1_id"]: bytes(r["geom_clipped"]) for r in out.collect()}
    assert set(rows) == {"1N_0E", "1N_1E"}
    left = geo.wkb_loads(rows["1N_0E"])
    right = geo.wkb_loads(rows["1N_1E"])
    assert geo.bbox(left) == (0.25, 0.25, 1.0, 0.75)
    assert geo.bbox(right) == (1.0, 0.25, 1.75, 0.75)


def test_registered_st_functions_sql(spark):
    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.functions.geo_udfs import register_geo_sql_functions

    register_geo_sql_functions(spark)
    square = {
        "type": "Polygon",
        "coordinates": [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]],
    }
    spark.createDataFrame(
        [(bytearray(geo.wkb_dumps(square)),)], "geom binary"
    ).createOrReplaceTempView("_st_probe")
    row = spark.sql(
        "SELECT st_geometrytype(geom) AS t, "
        "st_xmin(geom) AS x0, st_ymax(geom) AS y1, "
        "st_within(st_makepoint(CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)), geom) AS w, "
        "st_geometrytype(st_multi(geom)) AS mt, "
        "st_geometrytype(st_envelope(geom)) AS et, "
        "st_intersection(geom, st_makeenvelope(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE), "
        "CAST(5.0 AS DOUBLE), CAST(5.0 AS DOUBLE))) AS clipped "
        "FROM _st_probe"
    ).collect()[0]
    assert row["t"] == "ST_Polygon"
    assert (row["x0"], row["y1"]) == (0.0, 2.0)
    assert row["w"] is True
    assert row["mt"] == "ST_MultiPolygon"
    assert row["et"] == "ST_Polygon"
    clipped = geo.wkb_loads(bytes(row["clipped"]))
    assert geo.bbox(clipped) == (1.0, 0.0, 2.0, 2.0)


def test_stream_append(spark, tmp_path):
    import csv

    from gfw_data_api_spark.streaming.append_stream import stream_append

    registry = Registry(str(tmp_path / "catalog"))

    def write_csv(path, start, rows):
        with open(path, "w", newline="") as fh:
            writer = csv.writer(fh)
            writer.writerow(["alert_id", "frp"])
            for i in range(start, start + rows):
                writer.writerow([i, i * 0.5])

    first = str(tmp_path / "load.csv")
    write_csv(first, 0, 50)
    ingest_tabular(
        registry, spark, "nrt", "v1", first, unique_on=["alert_id"], is_mutable=True
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    write_csv(os.path.join(landing, "batch1.csv"), 25, 50)  # 25 dupes + 25 new
    out = stream_append(registry, spark, "nrt", "v1", landing)
    assert out.count() == 75
    # re-run: checkpoint skips already-processed files → no growth
    out2 = stream_append(registry, spark, "nrt", "v1", landing)
    assert out2.count() == 75
    # a new landing file gets picked up
    write_csv(os.path.join(landing, "batch2.csv"), 70, 10)
    out3 = stream_append(registry, spark, "nrt", "v1", landing)
    assert out3.count() == 80

    def write_rows(path, header, rows):
        with open(path, "w", newline="") as fh:
            csv.writer(fh).writerows([header, *rows])

    def part_files(dataset):
        uri = registry.get_default_asset(dataset, "v1").asset_uri
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(uri) for f in fs if f.endswith(".parquet")
        )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # a hash-partitioned table: the batch lands in its _part directories
    write_rows(str(tmp_path / "hashed.csv"), ["id", "iso", "v"], [[1, "BRA", 0.5], [2, "IDN", 1.5]])
    ingest_tabular(
        registry, spark, "hashed", "v1", str(tmp_path / "hashed.csv"), unique_on=["id"],
        is_mutable=True,
        partitions=Partitions(partition_type="hash", partition_column="id", partition_count=2),
    )
    landing = str(tmp_path / "landing_hashed")
    os.makedirs(landing)
    write_rows(os.path.join(landing, "b.csv"), ["id", "iso", "v"], [[3, "COD", 2.5], [4, "PER", 3.5]])
    assert sorted(r.id for r in stream_append(registry, spark, "hashed", "v1", landing).collect()) == [1, 2, 3, 4]
    assert stream_append(registry, spark, "hashed", "v1", landing).count() == 4

    write_rows(str(tmp_path / "flat.csv"), ["id", "iso", "v"], [[1, "BRA", 0.5]])
    ingest_tabular(registry, spark, "flat", "v1", str(tmp_path / "flat.csv"), unique_on=["id"], is_mutable=True)
    landing = str(tmp_path / "landing_flat")
    os.makedirs(landing)
    # a reordered header: columns are matched by name, not position
    write_rows(os.path.join(landing, "reordered.csv"), ["iso", "v", "id"], [["COD", 2.5, 3]])
    assert rows(stream_append(registry, spark, "flat", "v1", landing)) == [(1, "BRA", 0.5), (3, "COD", 2.5)]
    # a subset header: the missing column is NULL
    write_rows(os.path.join(landing, "subset.csv"), ["id", "v"], [[5, 9.5]])
    assert rows(stream_append(registry, spark, "flat", "v1", landing)) == [
        (1, "BRA", 0.5), (3, "COD", 2.5), (5, None, 9.5),
    ]
    # a malformed value: the batch's RegistryError, nothing written
    before = part_files("flat")
    bad = os.path.join(landing, "bad.csv")
    write_rows(bad, ["id", "iso", "v"], [["x", "BRA", 1.0]])
    with pytest.raises(RegistryError, match="does not parse"):
        stream_append(registry, spark, "flat", "v1", landing)
    assert part_files("flat") == before
    assert len(rows(registry.load(spark, "flat", "v1"))) == 3
    # the uncommitted batch is retried: fixed in place, the file appends
    write_rows(bad, ["id", "iso", "v"], [[6, "BRA", 1.0]])
    assert len(rows(stream_append(registry, spark, "flat", "v1", landing))) == 4


def test_tumbling_window_counts(spark, sf_dir):
    from gfw_data_api_spark.sources.tabular import load_table
    from gfw_data_api_spark.streaming.windows import tumbling_window_counts

    events = load_table(spark, sf_dir, "events")
    out = tumbling_window_counts(events, "1 hour", group_cols=["event_type"])
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()
    row = out.orderBy("window_start", "event_type").first()
    assert row["window_end"] > row["window_start"]


def test_sliding_window_counts(spark):
    from gfw_data_api_spark.streaming.windows import sliding_window_counts

    rows = [
        (1, "2024-01-01 00:07:00", 1.0),  # windows starting 23:15..00:00
        (2, "2024-01-01 00:20:00", 2.0),  # windows starting 23:30..00:15
    ]
    df = spark.createDataFrame(rows, "event_id int, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = sliding_window_counts(df, "1 hour", "15 minutes")
    got = sorted(
        (str(r["window_start"]), r["n_events"], r["sum_value"]) for r in out.collect()
    )
    # each event appears in exactly duration/slide = 4 windows; the two
    # events co-occur in the three windows covering both 00:07 and 00:20
    assert got == [
        ("2023-12-31 23:15:00", 1, 1.0),
        ("2023-12-31 23:30:00", 2, 3.0),
        ("2023-12-31 23:45:00", 2, 3.0),
        ("2024-01-01 00:00:00", 2, 3.0),
        ("2024-01-01 00:15:00", 1, 2.0),
    ]


def test_session_window_stats(spark):
    from gfw_data_api_spark.streaming.windows import session_window_stats

    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 1.0),  # same session (10 min gap)
        (1, "2024-01-01 01:00:00", 1.0),  # new session (50 min gap > 30)
        (2, "2024-01-01 00:05:00", 2.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = session_window_stats(df, gap="30 minutes").orderBy("user_id", "session_start")
    got = [(r["user_id"], r["n_events"]) for r in out.collect()]
    assert got == [(1, 2), (1, 1), (2, 1)]


def test_streaming_source_runs_windows(spark, tmp_path, sf_dir):
    """The same operator runs as a real Structured Streaming query."""
    import os

    from gfw_data_api_spark.sources.tabular import load_table
    from gfw_data_api_spark.streaming.windows import tumbling_window_counts

    events = load_table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = tumbling_window_counts(stream, "1 hour", watermark="2 hours")
    sink = str(tmp_path / "sink")
    query = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    assert os.path.exists(sink)


@pytest.fixture(scope="module")
def gadm_registry(spark, tmp_path_factory):
    """FIXTURES.md §3: GADM-style admin table with levels + normalized names."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("gadm")
    registry = Registry(str(tmp / "catalog"))
    rows = []
    for c, country in enumerate(["BRA", "MOZ", "IDN"]):
        rows.append(
            {
                "adm_level": "0",
                "gid_0": country,
                "gid_1": None,
                "gid_2": None,
                "country": country.title(),
                "name_1": None,
                "country_normalized": country.title().lower(),
                "name_1_normalized": None,
            }
        )
        for r in range(1, 4):
            rows.append(
                {
                    "adm_level": "1",
                    "gid_0": country,
                    "gid_1": f"{country}.{r}_1",
                    "gid_2": None,
                    "country": country.title(),
                    "name_1": f"Region {r}",
                    "country_normalized": country.title().lower(),
                    "name_1_normalized": f"region {r}",
                }
            )
    pdf = pd.DataFrame(rows)
    registry.ensure_dataset("gadm")
    registry.create_version("gadm", "v4")
    asset = registry.create_asset("gadm", "v4", "database_table", is_default=True)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(asset.asset_uri)
    registry.set_version_status("gadm", "v4", "saved")
    registry.set_latest("gadm", "v4")
    return registry


def test_admin_lookup_gid_pattern(spark, gadm_registry):
    """I4: escaped-underscore revision pattern matches any revision."""
    rows = features.admin_lookup(
        spark, gadm_registry, "gadm", "v4", level=1, gid_pattern="BRA.2\\__"
    ).collect()
    assert [r["gid_1"] for r in rows] == ["BRA.2_1"]


def test_admin_lookup_normalized_name(spark, gadm_registry):
    """I5: exact match on the unidecode+lower normalized column."""
    rows = features.admin_lookup(
        spark, gadm_registry, "gadm", "v4", level=1, name="Region 3",
    ).collect()
    assert len(rows) == 3  # one per country
    assert all(r["name_1"] == "Region 3" for r in rows)


def test_admin_lookup_level_0(spark, gadm_registry):
    rows = features.admin_lookup(
        spark, gadm_registry, "gadm", "v4", level=0, name="Bra"
    ).collect()
    assert len(rows) == 1 and rows[0]["gid_0"] == "BRA"


def test_export_version_registers_assets(spark, vector_registry):
    import glob

    from gfw_data_api_spark.sources.pipeline import export_version

    asset = export_version(vector_registry, spark, "areas", "v1", fmt="ndjson")
    assert asset.asset_type == "ndjson" and asset.status == "saved"
    assert glob.glob(os.path.join(asset.asset_uri, "part-*"))
    csv_asset = export_version(
        vector_registry, spark, "areas", "v1", fmt="csv",
        sql="SELECT fid, name FROM data WHERE fid < 5",
    )
    assert csv_asset.asset_type == "csv"
    back = spark.read.option("header", True).csv(csv_asset.asset_uri)
    assert back.count() == 5
    # both registered as aux (non-default) assets of the version
    types = {a.asset_type for a in vector_registry.assets_for("areas", "v1")}
    assert {"geo_database_table", "ndjson", "csv"} <= types


def test_two_exports_of_one_format_keep_their_own_files(spark, vector_registry):
    """Each non-default export writes its own directory: a second CSV
    export neither overwrites the first nor takes it along on delete."""
    from gfw_data_api_spark.sources.pipeline import export_version

    first = export_version(
        vector_registry, spark, "areas", "v1", fmt="csv", sql="SELECT fid FROM data WHERE fid < 3"
    )
    second = export_version(
        vector_registry, spark, "areas", "v1", fmt="csv", sql="SELECT fid FROM data WHERE fid < 7"
    )
    assert first.asset_uri != second.asset_uri

    def count(asset):
        return spark.read.option("header", True).csv(asset.asset_uri).count()

    assert (count(first), count(second)) == (3, 7)
    vector_registry.delete_asset(second.asset_id)
    assert count(first) == 3
    default = vector_registry.get_default_asset("areas", "v1")
    assert default.asset_uri == os.path.join(
        vector_registry.warehouse, "areas", "v1", default.asset_type
    )
    vector_registry.delete_asset(first.asset_id)


def test_failed_export_fails_its_asset(spark, vector_registry, monkeypatch):
    from gfw_data_api_spark.sources.pipeline import export_version

    def broken_write(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(downloads, "write_csv", broken_write)
    before = {a.asset_id for a in vector_registry.assets_for("areas", "v1")}
    with pytest.raises(OSError, match="disk full"):
        export_version(vector_registry, spark, "areas", "v1", fmt="csv")
    (asset,) = [a for a in vector_registry.assets_for("areas", "v1") if a.asset_id not in before]
    assert (asset.status, asset.change_log[-1]["message"]) == ("failed", "disk full")
    assert vector_registry.get_version("areas", "v1").status == "saved"
    vector_registry.delete_asset(asset.asset_id)


def test_watermark_admits_late_drops_too_late(spark, tmp_path):
    """Append-mode watermark semantics across micro-batches: a late event
    inside the watermark is counted; an event later than the watermark
    (its window already finalized) is dropped."""
    import datetime as dt
    import os

    from gfw_data_api_spark.streaming.windows import tumbling_window_counts

    def ev(h, m, value=1.0):
        return (dt.datetime(2024, 1, 1, h, m), "k", value)

    schema = "ts timestamp, key string, value double"
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_batch(rows, fname):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).parquet(src)
        out = tumbling_window_counts(stream, "1 hour", watermark="1 hour")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: two events in the 01:00 window, one at 03:50 advancing the
    # watermark to 02:50 → window [01:00, 02:00) finalizes and emits
    run_batch([ev(1, 10), ev(1, 20), ev(3, 50)], "b1")
    # batch 2: 03:20 is late but within the watermark (02:50) → counted;
    # 01:30 is too late (its window already emitted) → dropped;
    # 05:30 advances the watermark past 04:00 so window [03:00, 04:00)
    # finalizes with BOTH the 03:50 and the late 03:20 events
    run_batch([ev(3, 20), ev(1, 30), ev(5, 30)], "b2")

    rows = {
        r["window_start"].hour: r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }
    assert rows[1] == 2  # batch-2's 01:30 did NOT re-open the window
    assert rows[3] == 2  # late-but-in-watermark 03:20 was admitted
    assert 5 not in rows  # unfinalized window not emitted in append mode


def test_in_memory_collectors_cap_rows_naming_the_scale_path(spark, monkeypatch):
    """VERDICT r5 #5: rows_to_csv/rows_to_json refuse oversized results
    loudly, pointing at the distributed twins."""
    import pytest

    from gfw_data_api_spark.operators import downloads

    monkeypatch.setattr(downloads, "MAX_COLLECT_ROWS", 10)
    df = spark.range(11).selectExpr("id", "id * 2 AS v")
    with pytest.raises(ValueError, match="write_csv"):
        downloads.rows_to_csv(df)
    with pytest.raises(ValueError, match="export_ndjson_features"):
        downloads.rows_to_json(df)
    # at the cap exactly, both succeed
    ok = spark.range(10).selectExpr("id", "id * 2 AS v")
    assert downloads.rows_to_csv(ok).count("\n") == 11
    assert len(downloads.rows_to_json(ok)) == 10


def test_export_writers_and_watchdog_cap_rows(spark, monkeypatch, tmp_path):
    """VERDICT r6 #4: the last uncapped full collects — the GeoPackage/
    FileGDB export writers and the watchdog result path — refuse
    oversized results loudly, naming the distributed twins."""
    import pytest

    from gfw_data_api_spark.operators import downloads, watchdog
    from gfw_data_api_spark.sources import vector_files

    monkeypatch.setattr(downloads, "MAX_COLLECT_ROWS", 10)
    big = spark.range(11).selectExpr(
        "id", "CAST(NULL AS BINARY) AS geom"
    )
    with pytest.raises(ValueError, match="export_ndjson_features"):
        vector_files.write_geopackage(big, str(tmp_path / "x.gpkg"), "layer")
    with pytest.raises(ValueError, match="export_ndjson_features"):
        vector_files.write_file_gdb(big, str(tmp_path / "x.gdb"), "layer")
    with pytest.raises(ValueError, match="write_csv"):
        watchdog.collect_with_timeout(spark, spark.range(11), timeout_s=30.0)
    # at the cap exactly, the watchdog path succeeds
    assert len(watchdog.collect_with_timeout(spark, spark.range(10), timeout_s=30.0)) == 10
