"""Zonal-analysis SQL generation (analysis.py parity) + batch list query."""

import numpy as np
import pytest

from gfw_data_api_spark.catalog import Registry
from gfw_data_api_spark.operators.analysis import generate_zonal_sql, zonal_statistics
from gfw_data_api_spark.raster.batch import batch_query
from gfw_data_api_spark.raster.grid import Grid
from gfw_data_api_spark.raster.ingest import ingest_raster_tiles

GRID = Grid(1.0, 100)
N = 100
TILE = "01N_010E"


def test_generate_zonal_sql_matrix():
    # plain sum
    assert generate_zonal_sql(["area__ha"]) == "select sum(area__ha) from data"
    # TCD threshold translation (analysis.py:115-121)
    sql = generate_zonal_sql(["area__ha"], filters=["umd_tree_cover_density_2000__30"])
    assert sql == (
        "select sum(area__ha) from data where umd_tree_cover_density_2000__threshold >= 30"
    )
    # boolean layer filter
    sql = generate_zonal_sql(["area__ha"], filters=["is__umd_regional_primary_forest_2001"])
    assert "is__umd_regional_primary_forest_2001 != 'false'" in sql
    # group by + dates bound to the date layer
    sql = generate_zonal_sql(
        ["alert__count"],
        group_by=["umd_glad_landsat_alerts__date"],
        start_date="2021-01-01",
        end_date="2021-06-30",
    )
    assert sql == (
        "select count(*) from data where umd_glad_landsat_alerts__date >= '2021-01-01' "
        "and umd_glad_landsat_alerts__date <= '2021-06-30' "
        "group by umd_glad_landsat_alerts__date"
    )
    # deprecated rename (analysis.py:141-146)
    sql = generate_zonal_sql(["alert__count"], group_by=["umd_glad_alerts__isoweek"])
    assert "isoweek(umd_glad_landsat_alerts__date)" in sql


@pytest.fixture(scope="module")
def registry(spark, tmp_path_factory):
    registry = Registry(str(tmp_path_factory.mktemp("ab_catalog")))
    rng = np.random.default_rng(11)
    year = rng.choice([0, 0, 2003, 2012, 2021], size=(N, N)).astype(np.float64)
    threshold = rng.choice([0, 10, 30, 75], size=(N, N)).astype(np.float64)
    ingest_raster_tiles(registry, spark, "umd_tree_cover_loss", "v1", GRID, "year", {TILE: year})
    ingest_raster_tiles(
        registry, spark, "umd_tree_cover_density_2000", "v1", GRID, "threshold", {TILE: threshold}
    )
    registry._arrays = {"year": year, "threshold": threshold}
    return registry


def test_zonal_statistics_endpoint(spark, registry):
    aoi = {
        "type": "Polygon",
        "coordinates": [[[10.1, 0.1], [10.9, 0.1], [10.9, 0.9], [10.1, 0.9], [10.1, 0.1]]],
    }
    df = zonal_statistics(
        spark, registry, "umd_tree_cover_loss", "v1", aoi,
        sum_layers=["area__ha"],
        group_by=["umd_tree_cover_loss__year"],
        filters=["umd_tree_cover_density_2000__30"],
    )
    rows = df.collect()
    assert len(rows) == 3  # 2003, 2012, 2021
    assert all(r["sum(area__ha)"] > 0 for r in rows)


def test_batch_query_per_feature(spark, registry):
    features = [
        {"type": "Polygon", "coordinates": [[[10.1, 0.1], [10.3, 0.1], [10.3, 0.3], [10.1, 0.3], [10.1, 0.1]]]},
        {"type": "Polygon", "coordinates": [[[10.6, 0.6], [10.9, 0.6], [10.9, 0.9], [10.6, 0.9], [10.6, 0.6]]]},
        {"type": "Point", "coordinates": [10.5, 0.5]},  # invalid for raster → failed
    ]
    result, failed = batch_query(
        spark, registry, "umd_tree_cover_loss", "v1",
        "SELECT count(*) AS n FROM data", features,
    )
    assert failed == [2]
    rows = {r["feature_id"]: r["n"] for r in result.collect()}
    assert set(rows) == {0, 1}

    year = registry._arrays["year"]
    lats = 1.0 - (np.arange(N) + 0.5) * GRID.pixel_size
    lons = 10.0 + (np.arange(N) + 0.5) * GRID.pixel_size

    def count_box(x0, y0, x1, y1):
        m = np.outer((lats >= y0) & (lats <= y1), (lons >= x0) & (lons <= x1))
        return int(((year != 0) & m).sum())

    assert rows[0] == count_box(10.1, 0.1, 10.3, 0.3)
    assert rows[1] == count_box(10.6, 0.6, 10.9, 0.9)


def test_batch_query_matches_single_queries(spark, registry):
    """The one-job batch path must equal N independent zonal queries."""
    from gfw_data_api_spark.raster.zonal import query_raster

    features = [
        {"type": "Polygon", "coordinates": [[[10.0, 0.0], [10.5, 0.0], [10.5, 0.5], [10.0, 0.5], [10.0, 0.0]]]},
        {"type": "Polygon", "coordinates": [[[10.4, 0.4], [10.8, 0.4], [10.8, 0.8], [10.4, 0.8], [10.4, 0.4]]]},
    ]
    sql = (
        "SELECT umd_tree_cover_loss__year AS yr, sum(area__ha) AS area FROM data "
        "GROUP BY umd_tree_cover_loss__year"
    )
    batch, _ = batch_query(spark, registry, "umd_tree_cover_loss", "v1", sql, features)
    batch_rows = {
        (r["feature_id"], int(r["yr"])): r["area"] for r in batch.collect()
    }
    for idx, feature in enumerate(features):
        single = query_raster(
            spark, registry, "umd_tree_cover_loss", "v1", sql, feature
        ).collect()
        for row in single:
            assert batch_rows[(idx, int(row["yr"]))] == pytest.approx(row["area"], rel=1e-12)


def test_batch_query_aggregate_with_order_by(spark, registry):
    """GROUP BY injection must land before an ORDER BY tail."""
    features = [
        {"type": "Polygon", "coordinates": [[[10.1, 0.1], [10.4, 0.1], [10.4, 0.4], [10.1, 0.4], [10.1, 0.1]]]},
        {"type": "Polygon", "coordinates": [[[10.5, 0.5], [10.9, 0.5], [10.9, 0.9], [10.5, 0.9], [10.5, 0.5]]]},
    ]
    result, failed = batch_query(
        spark, registry, "umd_tree_cover_loss", "v1",
        "SELECT count(*) AS n FROM data ORDER BY n", features,
    )
    assert failed == []
    assert {r["feature_id"] for r in result.collect()} == {0, 1}


BATCH_FEATURES = [
    {"type": "Polygon", "coordinates": [[[10.0, 0.0], [10.3, 0.0], [10.3, 0.3], [10.0, 0.3], [10.0, 0.0]]]},
    {"type": "Polygon", "coordinates": [[[10.2, 0.2], [10.8, 0.2], [10.8, 0.8], [10.2, 0.8], [10.2, 0.2]]]},
]


def test_batch_query_distinct_is_per_feature(spark, registry):
    """DISTINCT applies within each feature: the batch equals N single
    queries."""
    from gfw_data_api_spark.raster.zonal import query_raster

    sql = "SELECT DISTINCT umd_tree_cover_loss__year AS yr FROM data"
    batch, failed = batch_query(spark, registry, "umd_tree_cover_loss", "v1", sql, BATCH_FEATURES)
    assert failed == []
    per_feature: dict[int, list] = {}
    for r in batch.collect():
        per_feature.setdefault(r["feature_id"], []).append(r["yr"])
    for idx, feature in enumerate(BATCH_FEATURES):
        single = query_raster(spark, registry, "umd_tree_cover_loss", "v1", sql, feature)
        assert sorted(per_feature[idx]) == sorted(r["yr"] for r in single.collect())


@pytest.mark.parametrize(
    "sql, reason",
    [
        ("SELECT umd_tree_cover_loss__year FROM data LIMIT 3", "LIMIT"),
        ("SELECT count(*) AS n FROM data ORDER BY n OFFSET 1", "OFFSET"),
        (
            "SELECT umd_tree_cover_loss__year FROM data WHERE umd_tree_cover_loss__year = "
            "(SELECT max(umd_tree_cover_loss__year) FROM data)",
            "subquery",
        ),
    ],
)
def test_batch_query_refuses_cross_feature_shapes(spark, registry, sql, reason):
    """A top-level LIMIT/OFFSET or a subquery over the table would range
    across features, so the batch refuses it with a 422 naming why."""
    from gfw_data_api_spark.sql.guard import QueryGuardError

    with pytest.raises(QueryGuardError, match=reason) as err:
        batch_query(spark, registry, "umd_tree_cover_loss", "v1", sql, BATCH_FEATURES)
    assert err.value.status_code == 422


@pytest.mark.parametrize(
    "sql",
    [
        # an ORDER BY inside a window is not the statement's tail
        "SELECT umd_tree_cover_loss__year AS yr, count(*) OVER "
        "(ORDER BY umd_tree_cover_loss__year) AS n FROM data",
        # DISTINCT ON keeps one row per key within each feature
        "SELECT DISTINCT ON (umd_tree_cover_loss__year) umd_tree_cover_loss__year AS yr, "
        "umd_tree_cover_density_2000__threshold AS t FROM data "
        "ORDER BY umd_tree_cover_loss__year, umd_tree_cover_density_2000__threshold DESC",
        # ordinals keep their select-list positions; HAVING stays after GROUP BY
        "SELECT umd_tree_cover_loss__year AS yr, count(*) AS n FROM data "
        "GROUP BY 1 HAVING count(*) > 1 ORDER BY 1",
        # a star already carries feature_id, once
        "SELECT * FROM data",
    ],
    ids=["window-order-by", "distinct-on", "group-by-ordinal", "star"],
)
def test_batch_query_top_level_injection_matches_single_queries(spark, registry, sql):
    """``feature_id`` lands in the statement's own clauses only, so the
    batch equals one query_raster run per feature."""
    from gfw_data_api_spark.raster.zonal import query_raster

    batch, failed = batch_query(spark, registry, "umd_tree_cover_loss", "v1", sql, BATCH_FEATURES)
    assert failed == []
    per_feature: dict[int, list] = {}
    for r in batch.collect():
        row = r.asDict()
        per_feature.setdefault(row.pop("feature_id"), []).append(tuple(row.values()))
    for idx, feature in enumerate(BATCH_FEATURES):
        single = query_raster(spark, registry, "umd_tree_cover_loss", "v1", sql, feature)
        expected = sorted(tuple(r) for r in single.collect())
        assert expected, "the probe feature must cover pixels"
        assert sorted(per_feature[idx]) == expected
