"""Raster ETL transform tests (P2/P4/P7) + datamart precompute."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gfw_data_api_spark.catalog import Registry
from gfw_data_api_spark.operators.datamart import compute_tree_cover_loss_by_driver
from gfw_data_api_spark.raster.grid import Grid
from gfw_data_api_spark.raster.ingest import ingest_raster_tiles
from gfw_data_api_spark.raster.transform import band_algebra, downsample, histogram, raster_stats

GRID = Grid(1.0, 100)
N = 100
TILE = "01N_010E"


@pytest.fixture(scope="module")
def registry(spark, tmp_path_factory):
    return Registry(str(tmp_path_factory.mktemp("transform_cat")))


@pytest.fixture(scope="module")
def base_arrays(spark, registry):
    rng = np.random.default_rng(21)
    a = rng.uniform(1, 100, (N, N)).round(2)
    b = rng.uniform(1, 10, (N, N)).round(2)
    ingest_raster_tiles(registry, spark, "layer_a", "v1", GRID, "gross", {TILE: a}, no_data=None)
    ingest_raster_tiles(registry, spark, "layer_b", "v1", GRID, "weight", {TILE: b}, no_data=None)
    return a, b


def test_band_algebra_two_bands(spark, registry, base_arrays):
    a, b = base_arrays
    uri_a = registry.get_default_asset("layer_a", "v1").asset_uri
    uri_b = registry.get_default_asset("layer_b", "v1").asset_uri
    out = band_algebra(
        spark, registry, "derived_ab", "v1", GRID, "product",
        calc="A * B + 1", input_uris={"A": uri_a, "B": uri_b}, no_data=None,
    )
    golden = a * b + 1
    got = {r["pixel_id"]: r["value"] for r in out.collect()}
    assert len(got) == N * N
    flat = golden.reshape(-1)
    for pid in (0, 1234, 9999):
        assert got[pid] == pytest.approx(flat[pid], rel=1e-12)


def test_failed_raster_writes_fail_their_asset(spark, registry, base_arrays, monkeypatch):
    """A raster job whose write raises leaves its asset, and the version
    of a default asset, ``failed`` rather than ``pending``."""
    import gfw_data_api_spark.raster.ingest as ingest_mod
    import gfw_data_api_spark.raster.pixels as pixels_mod

    def broken_write(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(ingest_mod, "write_tile_set", broken_write)
    with pytest.raises(OSError, match="disk full"):
        ingest_raster_tiles(registry, spark, "broken_ingest", "v1", GRID, "gross", {TILE: base_arrays[0]})
    asset = registry.get_default_asset("broken_ingest", "v1")
    assert (asset.status, registry.get_version("broken_ingest", "v1").status) == ("failed", "failed")
    # a second, non-default tile set fails alone: the version keeps its status
    with pytest.raises(OSError, match="disk full"):
        ingest_raster_tiles(registry, spark, "layer_a", "v1", GRID, "gross", {TILE: base_arrays[0]})
    extra = [a for a in registry.assets_for("layer_a", "v1") if not a.is_default]
    assert [a.status for a in extra] == ["failed"]
    assert registry.get_version("layer_a", "v1").status == "saved"
    registry.delete_asset(extra[0].asset_id)

    monkeypatch.setattr(pixels_mod, "write_tile_set", broken_write)
    uri_a = registry.get_default_asset("layer_a", "v1").asset_uri
    with pytest.raises(OSError, match="disk full"):
        band_algebra(
            spark, registry, "broken_calc", "v1", GRID, "gross",
            calc="A + 1", input_uris={"A": uri_a}, no_data=None,
        )
    asset = registry.get_default_asset("broken_calc", "v1")
    assert (asset.status, registry.get_version("broken_calc", "v1").status) == ("failed", "failed")


def test_extra_tile_set_keeps_its_own_files(spark, registry, base_arrays):
    """A second tile set in a version writes beside the default, never
    over it, and deleting it leaves the default's pixels readable."""
    default = registry.get_default_asset("layer_a", "v1")
    before = sorted(r["value"] for r in registry.load(spark, asset=default).collect())
    ingest_raster_tiles(
        registry, spark, "layer_a", "v1", GRID, "gross", {TILE: base_arrays[1]}, no_data=None
    )
    (extra,) = [a for a in registry.assets_for("layer_a", "v1") if not a.is_default]
    assert extra.asset_uri != default.asset_uri
    assert not extra.asset_uri.startswith(default.asset_uri + "/")
    assert spark.read.parquet(extra.asset_uri).agg(F.max("value")).first()[0] <= 10
    registry.delete_asset(extra.asset_id)
    after = sorted(r["value"] for r in registry.load(spark, asset=default).collect())
    assert after == before


def test_downsample_average(spark, registry, base_arrays):
    a, _ = base_arrays
    uri = registry.get_default_asset("layer_a", "v1").asset_uri
    df = spark.read.parquet(uri)
    out = downsample(df, GRID, factor=4, method="average")
    got = {r["pixel_id"]: r["value"] for r in out.collect()}
    assert len(got) == (N // 4) ** 2
    # golden: 4x4 block means
    blocks = a.reshape(N // 4, 4, N // 4, 4).mean(axis=(1, 3))
    flat = blocks.reshape(-1)
    for pid in (0, 7, 300, 624):
        assert got[pid] == pytest.approx(flat[pid], rel=1e-12)


def test_downsample_max(spark, registry, base_arrays):
    a, _ = base_arrays
    uri = registry.get_default_asset("layer_a", "v1").asset_uri
    out = downsample(spark.read.parquet(uri), GRID, factor=10, method="max")
    got = {r["pixel_id"]: r["value"] for r in out.collect()}
    blocks = a.reshape(N // 10, 10, N // 10, 10).max(axis=(1, 3))
    assert got[0] == pytest.approx(blocks[0, 0])
    assert len(got) == 100


def test_raster_stats_and_histogram(spark, registry, base_arrays):
    a, _ = base_arrays
    uri = registry.get_default_asset("layer_a", "v1").asset_uri
    df = spark.read.parquet(uri)
    stats = raster_stats(df)
    assert stats["n_pixels"] == N * N
    assert stats["mean"] == pytest.approx(float(a.mean()), rel=1e-12)
    assert stats["n_tiles"] == 1

    hist = histogram(df, bins=5).collect()
    counts = {r["bucket"]: r["count"] for r in hist}
    golden, _ = np.histogram(a.reshape(-1), bins=5, range=(a.min(), a.max()))
    for i in range(5):
        assert counts[i] == int(golden[i])


def test_datamart_tree_cover_loss_by_driver(spark, tmp_path_factory):
    registry = Registry(str(tmp_path_factory.mktemp("dm_cat")))
    rng = np.random.default_rng(4)
    year = rng.choice([0, 2005, 2015], (N, N)).astype(np.float64)
    threshold = rng.choice([10, 30, 75], (N, N)).astype(np.float64)
    drivers = rng.choice([0, 1, 3, 5], (N, N)).astype(np.float64)
    ingest_raster_tiles(registry, spark, "umd_tree_cover_loss", "v1", GRID, "year", {TILE: year})
    ingest_raster_tiles(
        registry, spark, "umd_tree_cover_density_2000", "v1", GRID, "threshold", {TILE: threshold}
    )
    ingest_raster_tiles(
        registry, spark, "tsc_tree_cover_loss_drivers", "v1", GRID, "driver", {TILE: drivers},
        no_data=None,
        values_table={
            "rows": [
                {"value": 0, "meaning": "Unknown"},
                {"value": 1, "meaning": "Commodity driven deforestation"},
                {"value": 3, "meaning": "Shifting agriculture"},
                {"value": 5, "meaning": "Wildfire"},
            ],
            "default_meaning": "Unknown",
        },
    )
    from gfw_data_api_spark.raster.data_environment import clear_cache

    clear_cache()
    aoi = {
        "type": "Polygon",
        "coordinates": [[[10.0, 0.0], [11.0, 0.0], [11.0, 1.0], [10.0, 1.0], [10.0, 0.0]]],
    }
    resource = compute_tree_cover_loss_by_driver(spark, registry, aoi, canopy_cover=30)
    assert resource["status"] == "saved"
    result = resource["result"]["yearly_tree_cover_loss_by_driver"]
    years = {r["loss_year"] for r in result}
    drivers_seen = {r["drivers_type"] for r in result}
    assert years == {2005, 2015}
    assert drivers_seen == {
        "Unknown", "Commodity driven deforestation", "Shifting agriculture", "Wildfire"
    }
    # rows ordered by the reference driver value map
    codes = [
        {"Unknown": 0, "Commodity driven deforestation": 2, "Shifting agriculture": 3, "Wildfire": 5}[
            r["drivers_type"]
        ]
        for r in result
    ]
    assert codes == sorted(codes)
    # golden total area check for one cell of the result
    from gfw_data_api_spark.functions.geometry import EARTH_RADIUS_M

    lats = 1.0 - (np.arange(N) + 0.5) * GRID.pixel_size
    half = GRID.pixel_size / 2
    areas = np.abs(
        EARTH_RADIUS_M**2 * np.radians(GRID.pixel_size)
        * (np.sin(np.radians(lats + half)) - np.sin(np.radians(lats - half)))
    )[:, None] / 1e4
    areas = np.broadcast_to(areas, year.shape)
    mask = (year == 2005) & (threshold >= 30) & (drivers == 1)
    golden = float(areas[mask].sum())
    got = next(
        r["loss_area_ha"]
        for r in result
        if r["loss_year"] == 2005
        and r["drivers_type"] == "Commodity driven deforestation"
    )
    assert got == pytest.approx(golden, rel=1e-9)


def test_rasterize_vector_value_and_count(spark):
    """P1: vector → grid with overlap order + count mode, vs NumPy golden."""
    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.raster.rasterize import rasterize_vector

    grid = Grid(1.0, 100)

    def box(x0, y0, x1, y1):
        return geo.wkb_dumps(
            {"type": "Polygon", "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]}
        )

    rows = [
        (1, 5.0, box(10.1, 0.1, 10.5, 0.5), [10.1, 0.1, 10.5, 0.5]),
        (2, 9.0, box(10.3, 0.3, 10.7, 0.7), [10.3, 0.3, 10.7, 0.7]),  # overlaps feature 1
    ]
    df = spark.createDataFrame(
        rows, "fid int, burn double, geom binary, gfw_bbox array<double>"
    )

    out = rasterize_vector(spark, df, grid, value_col="burn", order="asc")
    vals = {r["pixel_id"]: r["value"] for r in out.collect()}
    lons = 10.0 + (np.arange(100) + 0.5) * 0.01
    lats = 1.0 - (np.arange(100) + 0.5) * 0.01
    in1 = np.outer((lats > 0.1) & (lats < 0.5), (lons > 10.1) & (lons < 10.5))
    in2 = np.outer((lats > 0.3) & (lats < 0.7), (lons > 10.3) & (lons < 10.7))
    golden = np.zeros((100, 100))
    golden[in1] = 5.0
    golden[in2] = 9.0  # asc order: later (higher) burn overwrites
    flat = golden.reshape(-1)
    assert vals == {int(i): flat[i] for i in np.nonzero(flat)[0]}

    # desc order: smaller value painted last wins in the overlap
    out_desc = rasterize_vector(spark, df, grid, value_col="burn", order="desc")
    vals_desc = {r["pixel_id"]: r["value"] for r in out_desc.collect()}
    golden_desc = np.zeros((100, 100))
    golden_desc[in2] = 9.0
    golden_desc[in1] = 5.0
    flat_desc = golden_desc.reshape(-1)
    assert vals_desc == {int(i): flat_desc[i] for i in np.nonzero(flat_desc)[0]}

    # count mode: overlap pixels count 2
    out_count = rasterize_vector(spark, df, grid, method="count")
    vals_count = {r["pixel_id"]: r["value"] for r in out_count.collect()}
    golden_count = in1.astype(float) + in2.astype(float)
    flat_count = golden_count.reshape(-1)
    assert vals_count == {int(i): flat_count[i] for i in np.nonzero(flat_count)[0]}


def test_rasterize_crosses_tile_boundary(spark):
    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.raster.rasterize import rasterize_vector

    grid = Grid(1.0, 100)
    df = spark.createDataFrame(
        [
            (
                1,
                2.0,
                geo.wkb_dumps(
                    {
                        "type": "Polygon",
                        "coordinates": [
                            [[10.8, 0.8], [11.2, 0.8], [11.2, 1.2], [10.8, 1.2], [10.8, 0.8]]
                        ],
                    }
                ),
                [10.8, 0.8, 11.2, 1.2],
            )
        ],
        "fid int, burn double, geom binary, gfw_bbox array<double>",
    )
    out = rasterize_vector(spark, df, grid, value_col="burn")
    tiles = {r["tile_id"] for r in out.select("tile_id").distinct().collect()}
    assert tiles == {"01N_010E", "01N_011E", "02N_010E", "02N_011E"}
    # total burned pixels = 40x40 across the four tiles
    assert out.count() == 1600


def test_apply_colormap_discrete_and_gradient(spark):
    from gfw_data_api_spark.raster.transform import apply_colormap

    df = spark.createDataFrame(
        [(1, 0, 2.0), (2, 1, 3.0), (3, 2, 4.0)], "tile int, pixel_id int, value double"
    )
    disc = apply_colormap(df, {2.0: (255, 0, 0), 3.0: (0, 255, 0), 4.0: (0, 0, 255)})
    got = {r["value"]: (r["r"], r["g"], r["b"], r["rgb_int"]) for r in disc.collect()}
    assert got[2.0] == (255, 0, 0, 255 * 65536)
    assert got[4.0] == (0, 0, 255, 255)

    grad = apply_colormap(df, {2.0: (0, 0, 0), 4.0: (200, 100, 50)}, kind="gradient")
    got = {r["value"]: (r["r"], r["g"], r["b"]) for r in grad.collect()}
    assert got[3.0] == (100, 50, 25)  # midpoint interpolation


def test_datamart_includes_emissions_when_layer_present(spark, tmp_path_factory):
    from gfw_data_api_spark.raster.data_environment import clear_cache

    registry = Registry(str(tmp_path_factory.mktemp("dm_em")))
    rng = np.random.default_rng(8)
    year = rng.choice([0, 2010], (N, N)).astype(np.float64)
    threshold = (np.zeros((N, N)) + 75.0)
    drivers = rng.choice([1, 5], (N, N)).astype(np.float64)
    em_density = rng.uniform(0, 5, (N, N)).round(2)
    ingest_raster_tiles(registry, spark, "umd_tree_cover_loss", "v1", GRID, "year", {TILE: year})
    ingest_raster_tiles(
        registry, spark, "umd_tree_cover_density_2000", "v1", GRID, "threshold", {TILE: threshold}
    )
    ingest_raster_tiles(
        registry, spark, "tsc_tree_cover_loss_drivers", "v1", GRID, "driver", {TILE: drivers},
        no_data=None,
        values_table={
            "rows": [
                {"value": 1, "meaning": "Permanent agriculture"},
                {"value": 5, "meaning": "Wildfire"},
            ],
            "default_meaning": "Unknown",
        },
    )
    # density source → derived gross layer lands exactly at the reference
    # emissions layer name gfw_forest_carbon_gross_emissions__Mg_CO2e
    ingest_raster_tiles(
        registry, spark, "gfw_forest_carbon_gross_emissions", "v1", GRID, "Mg_CO2e_ha-1",
        {TILE: em_density}, no_data=None,
    )
    clear_cache()
    aoi = {
        "type": "Polygon",
        "coordinates": [[[10.0, 0.0], [11.0, 0.0], [11.0, 1.0], [10.0, 1.0], [10.0, 0.0]]],
    }
    resource = compute_tree_cover_loss_by_driver(spark, registry, aoi, canopy_cover=30)
    totals = resource["result"]["tree_cover_loss_by_driver"]
    assert all(t["gross_carbon_emissions_Mg"] > 0 for t in totals)
    # golden check for one driver
    from gfw_data_api_spark.functions.geometry import EARTH_RADIUS_M

    lats = 1.0 - (np.arange(N) + 0.5) * GRID.pixel_size
    half = GRID.pixel_size / 2
    areas = np.abs(
        EARTH_RADIUS_M**2 * np.radians(GRID.pixel_size)
        * (np.sin(np.radians(lats + half)) - np.sin(np.radians(lats - half)))
    )[:, None] / 1e4
    areas = np.broadcast_to(areas, year.shape)
    mask = (year == 2010) & (drivers == 5)
    golden = float((em_density * areas)[mask].sum())
    got = next(t for t in totals if t["drivers_type"] == "Wildfire")
    assert got["gross_carbon_emissions_Mg"] == pytest.approx(golden, rel=1e-9)
