"""GeoPackage + Shapefile readers (sources/vector_files.py): round-trip
and hand-packed binary fixtures, partition-count independence, plan
checks (distributed range fetch, no driver-side rows)."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from gfw_data_api_spark.functions import geometry as geo
from gfw_data_api_spark.sources.vector_files import (
    gpkg_layers,
    read_geopackage,
    read_shapefile,
    write_geopackage,
)

pytestmark = pytest.mark.usefixtures("catalog_schema_check")

SQUARES = [
    {
        "type": "Polygon",
        "coordinates": [
            [[x, 0.0], [x + 0.5, 0.0], [x + 0.5, 0.5], [x, 0.5], [x, 0.0]]
        ],
    }
    for x in [0.0, 1.0, 2.0, 3.0, 4.0]
]


@pytest.fixture(scope="module")
def gpkg_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gpkg") / "areas.gpkg")
    df = spark.createDataFrame(
        [
            (i, f"area_{i}", float(i) * 1.5, bytearray(geo.wkb_dumps(g)))
            for i, g in enumerate(SQUARES)
        ],
        "fid long, name string, score double, geom binary",
    )
    write_geopackage(df, path, layer="areas")
    return path


def test_gpkg_roundtrip(spark, gpkg_path):
    assert gpkg_layers(gpkg_path) == ["areas"]
    out = read_geopackage(spark, gpkg_path).orderBy("fid").collect()
    assert len(out) == 5
    assert [r["name"] for r in out] == [f"area_{i}" for i in range(5)]
    assert out[2]["score"] == 3.0
    g = geo.wkb_loads(bytes(out[1]["geom"]))
    assert g == SQUARES[1]


def test_gpkg_partitioning_invariance(spark, gpkg_path):
    for parts in (1, 3, 16):
        out = read_geopackage(spark, gpkg_path, target_partitions=parts)
        assert out.count() == 5, f"target_partitions={parts}"


def test_gpkg_envelope_flag_variants(spark, tmp_path):
    """GeoPackageBinary with a 32-byte XY envelope must parse too."""
    import sqlite3

    path = str(tmp_path / "env.gpkg")
    wkb = geo.wkb_dumps(SQUARES[0])
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name TEXT, "
        "geometry_type_name TEXT, srs_id INTEGER, z TINYINT, m TINYINT)"
    )
    con.execute("INSERT INTO gpkg_geometry_columns VALUES ('t', 'geom', 'POLYGON', 4326, 0, 0)")
    con.execute("CREATE TABLE t (fid INTEGER, geom BLOB)")
    flags = 0b00000011  # envelope code 1 (XY), little-endian
    blob = b"GP\x00" + bytes([flags]) + struct.pack("<i", 4326)
    blob += struct.pack("<4d", 0.0, 0.5, 0.0, 0.5) + wkb
    con.execute("INSERT INTO t VALUES (1, ?)", (blob,))
    con.commit()
    con.close()
    out = read_geopackage(spark, path).collect()
    assert geo.wkb_loads(bytes(out[0]["geom"])) == SQUARES[0]


def _write_shapefile(base: str, polys: list[dict], names: list[str]) -> str:
    """Hand-pack .shp/.shx/.dbf (polygon type) per the public spec."""
    records = []
    for g in polys:
        rings = g["coordinates"]
        parts, points = [], []
        for ring in rings:
            parts.append(len(points))
            points.extend(ring)
        xs = [p[0] for p in points]
        ys = [p[1] for p in points]
        body = struct.pack("<i", 5)
        body += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
        body += struct.pack("<2i", len(parts), len(points))
        body += struct.pack(f"<{len(parts)}i", *parts)
        body += struct.pack(f"<{2 * len(points)}d", *[c for p in points for c in p])
        records.append(body)

    shp_records = b""
    shx_entries = b""
    offset_words = 50  # header = 100 bytes
    for i, body in enumerate(records):
        content_words = len(body) // 2
        shx_entries += struct.pack(">2i", offset_words, content_words)
        shp_records += struct.pack(">2i", i + 1, content_words) + body
        offset_words += 4 + content_words

    all_pts = [p for g in polys for ring in g["coordinates"] for p in ring]
    bbox = (
        min(p[0] for p in all_pts),
        min(p[1] for p in all_pts),
        max(p[0] for p in all_pts),
        max(p[1] for p in all_pts),
    )

    def header(total_len_bytes: int) -> bytes:
        h = struct.pack(">i", 9994) + b"\x00" * 20
        h += struct.pack(">i", total_len_bytes // 2)
        h += struct.pack("<2i", 1000, 5)
        h += struct.pack("<8d", *bbox, 0, 0, 0, 0)
        return h

    with open(base + ".shp", "wb") as fh:
        fh.write(header(100 + len(shp_records)) + shp_records)
    with open(base + ".shx", "wb") as fh:
        fh.write(header(100 + len(shx_entries)) + shx_entries)

    # dbf: one C(10) field "name", one N(8,0) field "rank"
    n = len(polys)
    fields = [("name", "C", 10, 0), ("rank", "N", 8, 0)]
    record_len = 1 + 10 + 8
    header_len = 32 + 32 * len(fields) + 1
    dbf = bytearray()
    dbf += struct.pack("<4B", 0x03, 24, 1, 1)
    dbf += struct.pack("<IHH", n, header_len, record_len)
    dbf += b"\x00" * 20
    for fname, ftype, flen, fdec in fields:
        desc = fname.encode().ljust(11, b"\x00") + ftype.encode()
        desc += b"\x00" * 4 + bytes([flen, fdec]) + b"\x00" * 14
        dbf += desc
    dbf += b"\x0d"
    for i in range(n):
        dbf += b" " + names[i].encode().ljust(10) + str(i * 10).rjust(8).encode()
    with open(base + ".dbf", "wb") as fh:
        fh.write(bytes(dbf))
    return base + ".shp"


def test_shapefile_roundtrip(spark, tmp_path):
    shp = _write_shapefile(
        str(tmp_path / "areas"), SQUARES, [f"area_{i}" for i in range(5)]
    )
    out = read_shapefile(spark, shp).orderBy("rank").collect()
    assert len(out) == 5
    assert out[0]["name"] == "area_0" and out[4]["rank"] == 40
    assert geo.wkb_loads(bytes(out[3]["geom"])) == SQUARES[3]


def test_shapefile_polygon_with_hole(spark, tmp_path):
    donut = {
        "type": "Polygon",
        "coordinates": [
            # ESRI winding: outer CW, hole CCW
            [[0, 0], [0, 4], [4, 4], [4, 0], [0, 0]],
            [[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]],
        ],
    }
    shp = _write_shapefile(str(tmp_path / "donut"), [donut], ["donut"])
    out = read_shapefile(spark, shp).collect()
    g = geo.wkb_loads(bytes(out[0]["geom"]))
    assert g["type"] == "Polygon"
    assert len(g["coordinates"]) == 2
    assert not geo.point_in_polygon([2, 2], g["coordinates"])
    assert geo.point_in_polygon([0.5, 0.5], g["coordinates"])


def test_shapefile_partition_invariance(spark, tmp_path):
    shp = _write_shapefile(
        str(tmp_path / "parts"), SQUARES, [f"a{i}" for i in range(5)]
    )
    for parts in (1, 2, 8):
        got = read_shapefile(spark, shp, target_partitions=parts)
        assert got.count() == 5
        assert got.agg(F.sum("rank")).collect()[0][0] == 100


def test_readers_feed_ingest_pipeline(spark, gpkg_path):
    """The reader output plugs into the standard gfw-fields derivation."""
    from gfw_data_api_spark.sources.vector import add_gfw_fields

    df = add_gfw_fields(read_geopackage(spark, gpkg_path))
    row = df.filter(F.col("fid") == 0).collect()[0]
    assert row["gfw_bbox"] == [0.0, 0.0, 0.5, 0.5]
    assert row["gfw_area__ha"] > 0


def test_esrijson_reader(spark, tmp_path):
    import json

    from gfw_data_api_spark.sources.vector_files import read_esrijson

    doc = {
        "fields": [
            {"name": "OBJECTID", "type": "esriFieldTypeOID"},
            {"name": "name", "type": "esriFieldTypeString"},
            {"name": "area", "type": "esriFieldTypeDouble"},
        ],
        "features": [
            {
                "attributes": {"OBJECTID": 1, "name": "sq", "area": 0.25},
                # ESRI winding: outer CW; hole CCW
                "geometry": {"rings": [
                    [[0, 0], [0, 4], [4, 4], [4, 0], [0, 0]],
                    [[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]],
                ]},
            },
            {
                "attributes": {"OBJECTID": 2, "name": "pt", "area": 0.0},
                "geometry": {"x": 7.5, "y": -1.25},
            },
        ],
    }
    path = str(tmp_path / "fs.json")
    with open(path, "w") as fh:
        json.dump(doc, fh)
    out = read_esrijson(spark, path).orderBy("OBJECTID").collect()
    assert [r["name"] for r in out] == ["sq", "pt"]
    g0 = geo.wkb_loads(bytes(out[0]["geom"]))
    assert g0["type"] == "Polygon" and len(g0["coordinates"]) == 2
    g1 = geo.wkb_loads(bytes(out[1]["geom"]))
    assert g1 == {"type": "Point", "coordinates": [7.5, -1.25]}


def test_ingest_vector_gpkg_driver(spark, gpkg_path, tmp_path):
    from gfw_data_api_spark.catalog.registry import Registry
    from gfw_data_api_spark.sources.pipeline import (
        create_tile_cache_asset,
        ingest_vector,
    )

    registry = Registry(str(tmp_path / "catalog"))
    out = ingest_vector(registry, spark, "areas_gpkg", "v1", gpkg_path, "GPKG")
    assert out.count() == 5
    assert "gfw_bbox" in out.columns and "gfw_geostore_id" in out.columns
    asset = registry.get_default_asset("areas_gpkg", "v1")
    assert asset.asset_type == "geo_database_table"

    # E15 asset job on top of the ingested version
    cache_asset = create_tile_cache_asset(
        registry, spark, "areas_gpkg", "v1", min_zoom=0, max_zoom=2
    )
    assert cache_asset.asset_type == "static_vector_tile_cache"
    tiles = spark.read.parquet(cache_asset.asset_uri)
    assert tiles.count() > 0


@pytest.mark.parametrize("driver", ["GeoJSON", "ESRI Shapefile", "ESRIJSON"])
def test_ingest_vector_file_drivers(spark, tmp_path, driver):
    """Every source driver ingests a geo table whose catalog schema is the
    schema Spark infers from the written parquet."""
    import json

    from gfw_data_api_spark.catalog.registry import Registry
    from gfw_data_api_spark.sources.pipeline import ingest_vector

    names = [f"area_{i}" for i in range(len(SQUARES))]
    if driver == "GeoJSON":
        path = str(tmp_path / "areas.geojson")
        features = [
            {"type": "Feature", "properties": {"name": n, "rank": i}, "geometry": g}
            for i, (n, g) in enumerate(zip(names, SQUARES))
        ]
        with open(path, "w") as fh:
            json.dump({"type": "FeatureCollection", "features": features}, fh)
    elif driver == "ESRI Shapefile":
        path = _write_shapefile(str(tmp_path / "areas"), SQUARES, names)
    else:
        path = str(tmp_path / "areas.json")
        doc = {
            "fields": [
                {"name": "OBJECTID", "type": "esriFieldTypeOID"},
                {"name": "name", "type": "esriFieldTypeString"},
            ],
            "features": [
                {
                    "attributes": {"OBJECTID": i + 1, "name": n},
                    # ESRI winding: outer ring clockwise
                    "geometry": {"rings": [g["coordinates"][0][::-1]]},
                }
                for i, (n, g) in enumerate(zip(names, SQUARES))
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh)
    registry = Registry(str(tmp_path / "catalog"))
    out = ingest_vector(registry, spark, "areas", "v1", path, driver)
    assert out.count() == len(SQUARES)
    asset = registry.get_default_asset("areas", "v1")
    assert registry.load(spark, "areas", "v1").schema == spark.read.parquet(asset.asset_uri).schema


def test_create_cog_asset(spark, tmp_path):
    import numpy as np

    from gfw_data_api_spark.catalog.registry import Registry
    from gfw_data_api_spark.raster.cog import read_cog
    from gfw_data_api_spark.raster.grid import Grid
    from gfw_data_api_spark.raster.pixels import tile_set_from_array, write_tile_set
    from gfw_data_api_spark.sources.pipeline import create_cog_asset

    registry = Registry(str(tmp_path / "catalog"))
    registry.ensure_dataset("rast")
    registry.create_version("rast", "v1")
    grid = Grid.parse("10/40")
    arr = np.full((40, 40), 3.0, dtype="float32")
    ts = str(tmp_path / "ts")
    write_tile_set(tile_set_from_array(spark, grid, "10N_010E", arr, no_data=0), ts)
    asset = create_cog_asset(registry, spark, "rast", "v1", ts, grid)
    assert asset.asset_type == "cog"
    import os

    tifs = [f for f in os.listdir(asset.asset_uri) if f.endswith(".tif")]
    assert len(tifs) == 1
    levels = read_cog(os.path.join(asset.asset_uri, tifs[0]))
    assert (levels[0]["array"] == 3.0).all()


def test_file_gdb_validation_and_unsupported_rejection(spark, tmp_path):
    from gfw_data_api_spark.catalog.registry import Registry
    from gfw_data_api_spark.sources.pipeline import ingest_vector
    from gfw_data_api_spark.sources.vector_files import (
        FileGDBUnsupportedError,
        inspect_file_gdb,
    )

    gdb = tmp_path / "sample.gdb"
    gdb.mkdir()
    for idx in (1, 2, 3):
        (gdb / f"a{idx:08d}.gdbtable").write_bytes(b"\x00" * 16)

    info = inspect_file_gdb(str(gdb))
    assert info["n_tables"] == 3

    # not-a-gdb paths get a different, equally clear error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a FileGDB"):
        inspect_file_gdb(str(tmp_path / "missing.gdb"))
    empty = tmp_path / "empty.gdb"
    empty.mkdir()
    with _pytest.raises(ValueError, match="GDB_SystemCatalog"):
        inspect_file_gdb(str(empty))

    # a structurally-valid directory whose tables are outside the
    # decodable subset fails loudly, and the failure is recorded on the
    # version like any ingest error
    registry = Registry(str(tmp_path / "cat"))
    with _pytest.raises(FileGDBUnsupportedError):
        ingest_vector(registry, spark, "gdb_ds", "v1", str(gdb),
                      source_driver="FileGDB")
    assert registry.get_version("gdb_ds", "v1").status == "failed"


def test_file_gdb_roundtrip_points(spark, tmp_path):
    """write_file_gdb → read_file_gdb round-trip: scalar types, NULLs,
    and point geometry survive the FGDB binary layout."""
    import datetime

    from pyspark.sql import types as T

    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.sources.vector_files import (
        file_gdb_layers,
        read_file_gdb,
        write_file_gdb,
    )

    schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("pop", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("seen", T.TimestampType()),
        T.StructField("geom", T.BinaryType()),
    ])
    rows = [
        ("amazonas", 12345, 1.5, datetime.datetime(2021, 6, 1, 12, 30),
         bytearray(geo.wkb_dumps({"type": "Point", "coordinates": [-60.25, -3.125]}))),
        ("null island", None, None, None,
         bytearray(geo.wkb_dumps({"type": "Point", "coordinates": [0.0, 0.0]}))),
        ("no geom", 7, -2.25, datetime.datetime(1999, 12, 31), None),
    ]
    df = spark.createDataFrame(rows, schema)
    gdb = str(tmp_path / "pts.gdb")
    write_file_gdb(df, gdb, "places")

    assert list(file_gdb_layers(gdb)) == ["places"]
    out = read_file_gdb(spark, gdb, "places").orderBy("objectid").collect()
    assert [r.objectid for r in out] == [1, 2, 3]
    assert [r.name for r in out] == ["amazonas", "null island", "no geom"]
    assert [r.pop for r in out] == [12345, None, 7]
    assert [r.score for r in out] == [1.5, None, -2.25]
    assert out[0].seen == datetime.datetime(2021, 6, 1, 12, 30)
    assert out[2].geom is None
    g = geo.wkb_loads(bytes(out[0].geom))
    assert g["type"] == "Point"
    assert abs(g["coordinates"][0] - (-60.25)) < 1e-8
    assert abs(g["coordinates"][1] - (-3.125)) < 1e-8


def test_file_gdb_roundtrip_polygons_and_ingest(spark, tmp_path):
    """Polygon + multipart geometry round-trip, and the full
    ingest_vector pipeline over the FileGDB driver."""
    from pyspark.sql import types as T

    from gfw_data_api_spark.catalog.registry import Registry
    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.sources.pipeline import ingest_vector
    from gfw_data_api_spark.sources.vector_files import (
        read_file_gdb,
        write_file_gdb,
    )

    # ESRI winding: outer ring clockwise
    outer = [[0.0, 0.0], [0.0, 4.0], [4.0, 4.0], [4.0, 0.0], [0.0, 0.0]]
    hole = [[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0], [1.0, 1.0]]
    poly = {"type": "Polygon", "coordinates": [outer, hole]}
    line = {"type": "LineString", "coordinates": [[-10.5, 2.0], [3.25, 7.75], [8.0, -1.0]]}

    schema = T.StructType([
        T.StructField("iso", T.StringType()),
        T.StructField("geom", T.BinaryType()),
    ])
    df = spark.createDataFrame(
        [("BRA", bytearray(geo.wkb_dumps(poly))),
         ("LIN", bytearray(geo.wkb_dumps(line)))],
        schema,
    )
    gdb = str(tmp_path / "adm.gdb")
    write_file_gdb(df, gdb, "admin")

    out = {r.iso: geo.wkb_loads(bytes(r.geom))
           for r in read_file_gdb(spark, gdb, "admin").collect()}
    assert out["BRA"]["type"] == "Polygon"
    rings = out["BRA"]["coordinates"]
    assert len(rings) == 2
    assert all(
        abs(a - b) < 1e-8
        for ring_out, ring_in in zip(rings, [outer, hole])
        for p_out, p_in in zip(ring_out, ring_in)
        for a, b in zip(p_out, p_in)
    )
    assert out["LIN"]["type"] == "LineString"
    assert abs(out["LIN"]["coordinates"][1][1] - 7.75) < 1e-8

    registry = Registry(str(tmp_path / "cat"))
    result = ingest_vector(registry, spark, "gdb_ds", "v1", gdb,
                           source_driver="FileGDB")
    assert result.count() == 2
    assert "gfw_geostore_id" in result.columns
    assert registry.get_version("gdb_ds", "v1").status == "saved"


# ---------------------------------------------------------------------------
# FileGDB codec property tests
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.integers(min_value=0, max_value=2**63 - 1))
def test_gdb_varuint_roundtrip(value):
    from gfw_data_api_spark.sources.vector_files import _read_varuint, _write_varuint

    buf = _write_varuint(value) + b"\xaa"  # trailing byte must not be consumed
    out, pos = _read_varuint(buf, 0)
    assert out == value
    assert pos == len(buf) - 1


@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_gdb_varint_roundtrip(value):
    from gfw_data_api_spark.sources.vector_files import _read_varint, _write_varint

    buf = _write_varint(value) + b"\x55"
    out, pos = _read_varint(buf, 0)
    assert out == value
    assert pos == len(buf) - 1


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-179.9, max_value=179.9).map(lambda x: round(x, 7)),
            st.floats(min_value=-89.9, max_value=89.9).map(lambda x: round(x, 7)),
        ),
        min_size=2,
        max_size=12,
        unique=True,
    )
)
def test_gdb_linestring_geometry_roundtrip(coords):
    """Arbitrary polylines survive the scaled-integer delta encoding to
    within the declared 1e-9-degree grid resolution."""
    from gfw_data_api_spark.sources.vector_files import _gdb_decode_geometry

    # encode via the writer's private scheme: replicate inline to keep the
    # test honest about the public spec (shape 3, bbox varuints, deltas)
    from gfw_data_api_spark.sources.vector_files import _write_varint, _write_varuint

    xyscale, xo, yo = 1e9, -400.0, -400.0
    ixs = [round((x - xo) * xyscale) for x, _ in coords]
    iys = [round((y - yo) * xyscale) for _, y in coords]
    blob = bytearray(_write_varuint(3))
    blob += _write_varuint(len(coords)) + _write_varuint(1)
    blob += _write_varuint(min(ixs)) + _write_varuint(min(iys))
    blob += _write_varuint(max(ixs) - min(ixs)) + _write_varuint(max(iys) - min(iys))
    px = py = 0
    for ix, iy in zip(ixs, iys):
        blob += _write_varint(ix - px) + _write_varint(iy - py)
        px, py = ix, iy
    g = _gdb_decode_geometry(bytes(blob), {"xorigin": xo, "yorigin": yo, "xyscale": xyscale})
    assert g["type"] == "LineString"
    for (x, y), (gx, gy) in zip(coords, g["coordinates"]):
        assert abs(gx - x) < 2e-9 and abs(gy - y) < 2e-9


def test_file_gdb_skips_deleted_rows(spark, tmp_path):
    """A zeroed .gdbtablx offset marks a deleted row (OpenFileGDB
    layout); the reader must skip it without disturbing neighbors."""
    import struct as _struct

    from pyspark.sql import types as T

    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.sources.vector_files import read_file_gdb, write_file_gdb

    schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("geom", T.BinaryType()),
    ])
    rows = [
        (f"row{i}", bytearray(geo.wkb_dumps({"type": "Point", "coordinates": [float(i), 0.0]})))
        for i in range(5)
    ]
    gdb = str(tmp_path / "del.gdb")
    write_file_gdb(spark.createDataFrame(rows, schema), gdb, "pts")

    # zero out row 3's offset in the layer's .gdbtablx (header = 16 bytes,
    # 5-byte offsets)
    tablx = gdb + "/a00000002.gdbtablx"
    with open(tablx, "r+b") as fh:
        fh.seek(16 + 2 * 5)
        fh.write(b"\x00" * 5)

    out = read_file_gdb(spark, gdb, "pts").orderBy("objectid").collect()
    assert [r.name for r in out] == ["row0", "row1", "row3", "row4"]
    assert [r.objectid for r in out] == [1, 2, 4, 5]  # ids stay stable


def test_file_gdb_field_order_and_grid_size_section(spark, tmp_path):
    """Reader must parse attribute descriptors that FOLLOW the geometry
    descriptor (real ESRI order: OBJECTID, SHAPE, attributes), which
    requires skipping the spatial-grid-size section (1-byte count +
    count*8 bytes) after the extent doubles — misalignment there reads a
    garbage schema (advice r3). Both writer orders must round-trip to the
    same values."""
    from pyspark.sql import types as T

    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.sources.vector_files import (
        read_file_gdb,
        write_file_gdb,
    )

    schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("pop", T.LongType()),
        T.StructField("geom", T.BinaryType()),
    ])
    rows = [
        ("a", 10, bytearray(geo.wkb_dumps({"type": "Point", "coordinates": [1.5, 2.5]}))),
        ("b", None, None),
    ]
    df = spark.createDataFrame(rows, schema)

    got = {}
    for order, geom_first in (("esri", True), ("legacy", False)):
        gdb = str(tmp_path / f"{order}.gdb")
        write_file_gdb(df, gdb, "layer", geom_first=geom_first)
        out = read_file_gdb(spark, gdb, "layer").orderBy("objectid").collect()
        got[order] = [(r.name, r.pop, None if r.geom is None else bytes(r.geom))
                      for r in out]
    assert got["esri"] == got["legacy"]
    assert [t[:2] for t in got["esri"]] == [("a", 10), ("b", None)]


def test_file_gdb_rejects_implausible_grid_count(tmp_path):
    """A corrupt geometry descriptor (grid count pointing past the
    section) must reject with FileGDBUnsupportedError, not silently
    decode a garbage schema."""
    import struct

    from gfw_data_api_spark.sources.vector_files import (
        FileGDBUnsupportedError,
        _gdbtable_schema,
    )

    def field_desc(name, ftype, extra):
        enc = name.encode("utf-16-le")
        return bytes([len(name)]) + enc + b"\x00" + bytes([ftype]) + extra

    geom_desc = (
        field_desc("SHAPE", 7, b"")
        + b"\x00\x01"
        + struct.pack("<h", 0)
        + b"\x00"  # geom flags
        + struct.pack("<3d", -400.0, -400.0, 1e9)
        + struct.pack("<d", 1e-9)
        + struct.pack("<4d", -180.0, -90.0, 180.0, 90.0)
        + bytes([200])  # implausible grid count
    )
    fields_blob = field_desc("OBJECTID", 6, bytes([4, 2])) + geom_desc
    sec = struct.pack("<2i", len(fields_blob) + 6, 4)
    sec += bytes([1, 3, 0, 0]) + struct.pack("<h", 2) + fields_blob
    table = tmp_path / "a00000002.gdbtable"
    body = b""
    table.write_bytes(
        struct.pack("<6i2q", 3, 0, 0, 0, 0, 0, 40 + len(body) + len(sec), 40 + len(body))
        + body + sec
    )
    import pytest as _pytest

    with _pytest.raises(FileGDBUnsupportedError, match="grid count"):
        _gdbtable_schema(str(table))


@pytest.mark.parametrize("z_codes", ["zm", "z"])
def test_file_gdb_z_flattening_roundtrip(spark, tmp_path, z_codes):
    """A z-enabled layer (geom flag 0x04, z params in the descriptor,
    z-bearing shape codes with trailing elevation streams) reads back
    with geometries flattened to 2-D and attributes AFTER the SHAPE
    descriptor still aligned — the 2.5D path that used to reject.
    Covers both the ZM code family (11/13/15) and the z-only no-M
    family (9/10/19 — PointZ/ArcZ/PolygonZ, the common ArcGIS 2.5D
    case)."""
    from pyspark.sql import types as T

    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.sources.vector_files import (
        read_file_gdb,
        write_file_gdb,
    )

    schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("pop", T.LongType()),
        T.StructField("geom", T.BinaryType()),
    ])
    line = {"type": "LineString", "coordinates": [[0.0, 0.0], [1.5, 0.5], [2.0, 2.0]]}
    poly = {
        "type": "Polygon",
        "coordinates": [[[10.0, 10.0], [12.0, 10.0], [12.0, 11.0], [10.0, 10.0]]],
    }
    rows = [
        ("pt", 11, bytearray(geo.wkb_dumps({"type": "Point", "coordinates": [-60.25, -3.125]}))),
        ("ln", 22, bytearray(geo.wkb_dumps(line))),
        ("pg", 33, bytearray(geo.wkb_dumps(poly))),
    ]
    df = spark.createDataFrame(rows, schema)
    gdb = str(tmp_path / "z.gdb")
    write_file_gdb(df, gdb, "layer_z", with_z=True, z_codes=z_codes)

    out = read_file_gdb(spark, gdb, "layer_z").orderBy("objectid").collect()
    assert [r.name for r in out] == ["pt", "ln", "pg"]
    assert [r.pop for r in out] == [11, 22, 33]
    pg = geo.wkb_loads(bytes(out[2].geom))
    assert pg["type"] == "Polygon"
    assert all(len(c) == 2 for ring in pg["coordinates"] for c in ring)
    p = geo.wkb_loads(bytes(out[0].geom))
    assert p["type"] == "Point" and len(p["coordinates"]) == 2
    assert abs(p["coordinates"][0] - (-60.25)) < 1e-8
    ln = geo.wkb_loads(bytes(out[1].geom))
    assert ln["type"] == "LineString"
    assert all(len(c) == 2 for c in ln["coordinates"])
    assert abs(ln["coordinates"][1][0] - 1.5) < 1e-8
    assert abs(ln["coordinates"][2][1] - 2.0) < 1e-8
