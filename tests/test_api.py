"""HTTP API tests — mirrors the reference's query-route behaviors
(tests_v2/unit/app/routes/datasets/test_query.py: count query, forbidden
400s, CSV output; middleware latest-redirect)."""

import io
import json
import os

import numpy as np
import pytest

from gfw_data_api_spark.api import create_app
from gfw_data_api_spark.catalog import Registry
from gfw_data_api_spark.catalog.geostore import Geostore
from gfw_data_api_spark.raster.grid import Grid
from gfw_data_api_spark.raster.ingest import ingest_raster_tiles
from gfw_data_api_spark.sources.pipeline import ingest_tabular

pytestmark = pytest.mark.usefixtures("catalog_schema_check")


def call(app, method, path, query="", body=None, headers=None):
    """Minimal WSGI client; a ``bytes`` body is sent as it is."""
    if isinstance(body, bytes):
        raw = body
    else:
        raw = json.dumps(body).encode() if body is not None else b""
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": query,
        "CONTENT_LENGTH": str(len(raw)),
        "wsgi.input": io.BytesIO(raw),
    }
    for name, value in (headers or {}).items():
        environ["HTTP_" + name.upper().replace("-", "_")] = value
    captured = {}

    def start_response(status, headers):
        captured["status"] = int(status.split()[0])
        captured["status_line"] = status
        captured["headers"] = dict(headers)

    chunks = app(environ, start_response)
    payload = b"".join(chunks)
    captured["raw"] = payload
    try:
        captured["body"] = json.loads(payload)
    except ValueError:
        try:
            captured["body"] = payload.decode()
        except UnicodeDecodeError:
            captured["body"] = payload  # binary download
    return captured


@pytest.fixture(scope="module")
def app(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("api")
    registry = Registry(str(tmp / "catalog"))
    import csv as csvmod

    csv_path = str(tmp / "fires.csv")
    with open(csv_path, "w", newline="") as fh:
        writer = csvmod.writer(fh)
        writer.writerow(["alert_id", "iso", "frp"])
        for i in range(99):
            writer.writerow([i, ["MOZ", "BOL"][i % 2], i * 0.5])
    ingest_tabular(registry, spark, "nasa_viirs_fire_alerts", "v2024", csv_path)

    grid = Grid(1.0, 50)
    rng = np.random.default_rng(2)
    ingest_raster_tiles(
        registry, spark, "umd_tree_cover_loss", "v1", grid, "year",
        {"01N_010E": rng.choice([0, 2004, 2014], (50, 50)).astype(np.float64)},
    )
    wsgi = create_app(spark, registry, Geostore(registry))
    wsgi._registry = registry
    return wsgi


def test_count_query_json(app):
    out = call(
        app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/query/json",
        query="sql=SELECT%20count(*)%20AS%20count%20FROM%20data",
    )
    assert out["status"] == 200
    assert out["body"] == {"data": [{"count": 99}], "status": "success"}


def test_query_csv_quoting(app):
    out = call(
        app, "POST", "/dataset/nasa_viirs_fire_alerts/v2024/query/csv",
        body={"sql": "SELECT iso, count(*) AS cnt FROM data GROUP BY iso ORDER BY iso"},
    )
    assert out["status"] == 200
    lines = out["body"].strip().splitlines()
    assert lines[0] == '"iso","cnt"'
    assert lines[1] == '"BOL",49'


def test_forbidden_function_400(app):
    out = call(
        app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/query/json",
        query="sql=SELECT%20pg_ls_dir('/')%20FROM%20data",
    )
    assert out["status"] == 400
    assert out["body"]["message"] == "Use of admin, system or private functions is not allowed."


def test_latest_redirects_308(app):
    out = call(
        app, "GET", "/dataset/nasa_viirs_fire_alerts/latest/query/json",
        query="sql=SELECT%20count(*)%20AS%20c%20FROM%20data",
    )
    assert out["status"] == 308
    assert out["headers"]["Location"] == (
        "/dataset/nasa_viirs_fire_alerts/v2024/query/json?sql=SELECT%20count(*)%20AS%20c%20FROM%20data"
    )


def test_raster_query_requires_geometry(app):
    out = call(
        app, "GET", "/dataset/umd_tree_cover_loss/v1/query/json",
        query="sql=SELECT%20count(*)%20AS%20n%20FROM%20data",
    )
    assert out["status"] == 422


def test_raster_query_with_geostore(app):
    geom = {
        "type": "Polygon",
        "coordinates": [[[10.1, 0.1], [10.9, 0.1], [10.9, 0.9], [10.1, 0.9], [10.1, 0.1]]],
    }
    created = call(app, "POST", "/geostore", body={"geometry": geom})
    assert created["status"] == 200
    gid = created["body"]["data"]["gfw_geostore_id"]

    out = call(
        app, "POST", "/dataset/umd_tree_cover_loss/v1/query/json",
        body={"sql": "SELECT count(*) AS n FROM data", "geostore_id": gid},
    )
    assert out["status"] == 200
    assert out["body"]["data"][0]["n"] > 0


def test_zonal_analysis_endpoint(app):
    geom = {
        "type": "Polygon",
        "coordinates": [[[10.1, 0.1], [10.9, 0.1], [10.9, 0.9], [10.1, 0.9], [10.1, 0.1]]],
    }
    gid = call(app, "POST", "/geostore", body={"geometry": geom})["body"]["data"]["gfw_geostore_id"]
    out = call(
        app, "GET", f"/analysis/zonal/{gid}",
        query="dataset=umd_tree_cover_loss&version=v1&sum=area__ha&group_by=umd_tree_cover_loss__year",
    )
    assert out["status"] == 200
    assert len(out["body"]["data"]) == 2  # 2004, 2014


def test_fields_endpoint(app):
    out = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/fields")
    assert out["status"] == 200
    names = {f["name"] for f in out["body"]["data"]}
    assert {"alert_id", "iso", "frp"} <= names


def test_download_csv(app):
    out = call(
        app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/download/csv",
        query="sql=SELECT%20alert_id%2C%20frp%20FROM%20data%20WHERE%20alert_id%20%3C%203%20ORDER%20BY%20alert_id",
    )
    assert out["status"] == 200
    assert "attachment" in out["headers"]["Content-Disposition"]
    assert out["body"].splitlines()[1] == "0,0.0"


def test_unknown_route_404(app):
    assert call(app, "GET", "/nope")["status"] == 404


def test_datasets_listing(app):
    out = call(app, "GET", "/datasets")
    names = {d["dataset"] for d in out["body"]["data"]}
    assert {"nasa_viirs_fire_alerts", "umd_tree_cover_loss"} <= names


def _poll_job(app, job_link, deadline_s=120.0):
    import time as _time

    end = _time.monotonic() + deadline_s
    while _time.monotonic() < end:
        out = call(app, "GET", job_link)
        assert out["status"] == 200
        status = out["body"]["data"]["status"]
        if status != "pending":
            return out["body"]["data"]
        _time.sleep(0.2)
    raise AssertionError("job did not finish in time")


POLY1 = {"type": "Polygon",
         "coordinates": [[[10.1, 0.1], [10.4, 0.1], [10.4, 0.4], [10.1, 0.4], [10.1, 0.1]]]}
POLY2 = {"type": "Polygon",
         "coordinates": [[[10.5, 0.5], [10.9, 0.5], [10.9, 0.9], [10.5, 0.9], [10.5, 0.5]]]}


def test_batch_query_job_contract(app):
    """202 + job id, poll /job/{id}, fetch results (queries.py:300-427)."""
    fc = {"features": [{"type": "Feature", "geometry": POLY1},
                       {"type": "Feature", "geometry": POLY2}]}
    out = call(
        app, "POST", "/dataset/umd_tree_cover_loss/v1/query/batch",
        body={"sql": "SELECT count(*) AS n FROM data", "feature_collection": fc},
    )
    assert out["status"] == 202
    data = out["body"]["data"]
    assert data["status"] == "pending" and data["progress"] == "0%"
    job = _poll_job(app, data["job_link"])
    assert job["status"] == "success"
    assert job["progress"] == "100%"
    assert job["failed_geometries_link"] is None
    results = call(app, "GET", job["download_link"])
    assert results["status"] == 200
    payload = results["body"]["data"]
    assert len(payload) == 2
    assert all(f["result"][0]["n"] > 0 for f in payload)


def test_batch_query_rejects_points_inline(app):
    fc = {"features": [{"type": "Feature", "geometry": POLY1},
                       {"type": "Feature",
                        "geometry": {"type": "Point", "coordinates": [10.5, 0.5]}}]}
    out = call(
        app, "POST", "/dataset/umd_tree_cover_loss/v1/query/batch",
        body={"sql": "SELECT count(*) AS n FROM data", "feature_collection": fc},
    )
    assert out["status"] == 400
    assert "Polygons or MultiPolygons" in out["body"]["message"]


def test_batch_query_uri_with_bad_geometry_partial(app, tmp_path):
    """A bad geometry arriving via uri is reported in failed_geometries."""
    fc = {"features": [
        {"type": "Feature", "geometry": POLY1},
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [1.0, 1.0]}},
    ]}
    uri = str(tmp_path / "features.geojson")
    with open(uri, "w") as fh:
        json.dump(fc, fh)
    out = call(
        app, "POST", "/dataset/umd_tree_cover_loss/v1/query/batch",
        body={"sql": "SELECT count(*) AS n FROM data", "uri": uri},
    )
    assert out["status"] == 202
    job = _poll_job(app, out["body"]["data"]["job_link"])
    assert job["status"] == "partial_success"
    failed = call(app, "GET", job["failed_geometries_link"])
    assert failed["body"]["data"] == [1]


def test_batch_query_requires_one_source(app):
    out = call(
        app, "POST", "/dataset/umd_tree_cover_loss/v1/query/batch",
        body={"sql": "SELECT count(*) AS n FROM data"},
    )
    assert out["status"] == 400
    both = call(
        app, "POST", "/dataset/umd_tree_cover_loss/v1/query/batch",
        body={"sql": "SELECT 1 AS x FROM data",
              "feature_collection": {"features": []}, "geostore_ids": ["a"]},
    )
    assert both["status"] == 400


def test_batch_query_on_table_dataset_400(app):
    out = call(
        app, "POST", "/dataset/nasa_viirs_fire_alerts/v2024/query/batch",
        body={"sql": "SELECT count(*) AS n FROM data",
              "feature_collection": {"features": []}},
    )
    assert out["status"] == 400
    assert "raster tile sets" in out["body"]["message"]


@pytest.mark.parametrize(
    "sql, status, reason",
    [
        ("SELECT umd_tree_cover_loss__year FROM data LIMIT 3", 422, "LIMIT"),
        (
            "SELECT umd_tree_cover_loss__year FROM data WHERE umd_tree_cover_loss__year = "
            "(SELECT max(umd_tree_cover_loss__year) FROM data)",
            422,
            "subquery",
        ),
        ("SELEC count(*) FROM data", 400, "syntax error"),
        ("SELECT count(*) FROM data; SELECT 1 FROM data", 400, "exactly one SQL statement"),
    ],
)
def test_batch_query_refused_statement_queues_no_job(app, monkeypatch, sql, status, reason):
    """A statement the batch refuses gets its 400/422 from the POST
    itself, as a single query does, and no job is queued."""
    from gfw_data_api_spark.operators.jobs import JobRegistry

    submitted = []
    monkeypatch.setattr(JobRegistry, "submit", lambda self, *a, **k: submitted.append(a))
    fc = {"features": [{"type": "Feature", "geometry": POLY1}]}
    out = call(
        app, "POST", "/dataset/umd_tree_cover_loss/v1/query/batch",
        body={"sql": sql, "feature_collection": fc},
    )
    assert out["status"] == status
    assert reason in out["body"]["message"]
    assert submitted == []


def test_unknown_job_404(app):
    out = call(app, "GET", "/job/no-such-job")
    assert out["status"] == 404


def test_put_creates_dataset(app):
    out = call(app, "PUT", "/dataset/brand_new_ds", body={"is_downloadable": False})
    assert out["status"] == 200
    assert out["body"]["data"]["dataset"] == "brand_new_ds"
    assert out["body"]["data"]["is_downloadable"] is False


def test_datasets_listing_paginated(app):
    out = call(app, "GET", "/datasets", query="page[size]=1&page[number]=1")
    assert len(out["body"]["data"]) == 1
    assert out["body"]["meta"]["size"] == 1


def test_bad_numeric_query_params_422(app):
    """Malformed pagination / zoom query params → 422 envelope, not 500."""
    for query in ("page[number]=abc", "page[size]=ten", "page[number]=1.5"):
        out = call(app, "GET", "/datasets", query=query)
        assert out["status"] == 422, (query, out)
        assert out["body"]["status"] == "failed"
        assert "must be an integer" in out["body"]["message"]


def test_internal_errors_are_jsend_500(app):
    # malformed body type triggers an unexpected error path, not a traceback
    out = call(app, "POST", "/geostore", body={"geometry": "not-a-geometry"})
    assert out["status"] in (400, 500)
    assert out["body"]["status"] in ("failed", "error")


def test_datamart_endpoint(spark, tmp_path_factory):
    """Datamart precompute through the API needs the full layer trio."""
    from gfw_data_api_spark.raster.data_environment import clear_cache

    registry = Registry(str(tmp_path_factory.mktemp("dm_api") / "catalog"))
    grid = Grid(1.0, 50)
    rng = np.random.default_rng(6)
    n = 50
    ingest_raster_tiles(
        registry, spark, "umd_tree_cover_loss", "v1", grid, "year",
        {"01N_010E": rng.choice([0, 2010, 2020], (n, n)).astype(np.float64)},
    )
    ingest_raster_tiles(
        registry, spark, "umd_tree_cover_density_2000", "v1", grid, "threshold",
        {"01N_010E": (rng.choice([10, 75], (n, n))).astype(np.float64)},
    )
    ingest_raster_tiles(
        registry, spark, "tsc_tree_cover_loss_drivers", "v1", grid, "driver",
        {"01N_010E": rng.choice([1, 5], (n, n)).astype(np.float64)}, no_data=None,
        values_table={
            "rows": [
                {"value": 1, "meaning": "Commodity driven deforestation"},
                {"value": 5, "meaning": "Wildfire"},
            ],
            "default_meaning": "Unknown",
        },
    )
    clear_cache()
    dm_app = create_app(spark, registry, Geostore(registry))
    geom = {
        "type": "Polygon",
        "coordinates": [[[10.1, 0.1], [10.9, 0.1], [10.9, 0.9], [10.1, 0.9], [10.1, 0.1]]],
    }
    out = call(
        dm_app, "POST", "/datamart/tree_cover_loss_by_driver",
        body={"geometry": geom, "canopy_cover": 30},
    )
    # reference contract: 202 + a link to the deterministic resource id
    assert out["status"] == 202
    link = out["body"]["data"]["link"]

    # poll until the background compute lands (pending → 202 Retry-After)
    import time as _time

    deadline = _time.monotonic() + 120
    while _time.monotonic() < deadline:
        got = call(dm_app, "GET", link)
        if got["status"] == 200:
            break
        assert got["status"] == 202
        _time.sleep(0.2)
    resource = got["body"]["data"]
    assert resource["status"] == "saved"
    yearly = resource["result"]["yearly_tree_cover_loss_by_driver"]
    drivers = {r["drivers_type"] for r in yearly}
    assert drivers == {"Commodity driven deforestation", "Wildfire"}
    totals = resource["result"]["tree_cover_loss_by_driver"]
    # per-driver rollup equals the yearly sum, ordered by driver code
    assert [t["drivers_type"] for t in totals] == [
        "Commodity driven deforestation", "Wildfire"
    ]
    for t in totals:
        yearly_sum = sum(
            r["loss_area_ha"] for r in yearly if r["drivers_type"] == t["drivers_type"]
        )
        assert abs(t["loss_area_ha"] - yearly_sum) < 1e-9

    # resource retrieval round-trip
    got = call(dm_app, "GET", f"/datamart/tree_cover_loss_by_driver/{resource['resource_id']}")
    assert got["status"] == 200 and got["body"]["data"]["resource_id"] == resource["resource_id"]
    missing = call(dm_app, "GET", "/datamart/tree_cover_loss_by_driver/nope")
    assert missing["status"] == 404

    # duplicate POST with identical params → 409 (uuid5 dedup)
    dup = call(
        dm_app, "POST", "/datamart/tree_cover_loss_by_driver",
        body={"geometry": geom, "canopy_cover": 30},
    )
    assert dup["status"] == 409

    # search-by-params returns the same link; different params 404.
    # GET carries no body, so identify the AOI via a geostore id — the
    # uuid5 must come out identical because resolve_geometry returns the
    # same geometry dict either way
    gid = call(dm_app, "POST", "/geostore", body={"geometry": geom})["body"]["data"][
        "gfw_geostore_id"
    ]
    found = call(dm_app, "GET", "/datamart/tree_cover_loss_by_driver",
                 query=f"canopy_cover=30&geostore_id={gid}")
    assert found["status"] == 200 and found["body"]["data"]["link"] == link
    not_found = call(dm_app, "GET", "/datamart/tree_cover_loss_by_driver",
                     query=f"canopy_cover=75&geostore_id={gid}")
    assert not_found["status"] == 404

    # CSV rendering via Accept header
    csv_out = call(dm_app, "GET", link, headers={"accept": "text/csv"})
    assert csv_out["status"] == 200
    assert csv_out["body"].splitlines()[0] == (
        "drivers_type,loss_year,loss_area_ha,gross_carbon_emissions_Mg"
    )

    # DELETE: saved resources are not deletable; failed ones are
    rid = resource["resource_id"]
    undeletable = call(dm_app, "DELETE", f"/datamart/tree_cover_loss_by_driver/{rid}")
    assert undeletable["status"] == 400
    from gfw_data_api_spark.operators import datamart as dm

    dm.save_failed_resource(registry, "f-1", 30, "boom")
    gone = call(dm_app, "DELETE", "/datamart/tree_cover_loss_by_driver/f-1")
    assert gone["status"] == 204
    assert call(dm_app, "GET", "/datamart/tree_cover_loss_by_driver/f-1")["status"] == 404
    assert call(dm_app, "DELETE", "/datamart/tree_cover_loss_by_driver/f-1")["status"] == 404

    # invalid canopy_cover -> 422, not 500
    bad = call(
        dm_app, "POST", "/datamart/tree_cover_loss_by_driver",
        body={"geometry": geom, "canopy_cover": "abc"},
    )
    assert bad["status"] == 422


def test_datamart_mutually_exclusive_overrides():
    from gfw_data_api_spark.operators.datamart import (
        apply_overrides_and_remove_mutually_exclusive_datasets as apply_mx,
    )

    # pinning the wri_google categorization evicts tsc (land.py:325-341)
    out = apply_mx({"tsc_tree_cover_loss_drivers": "v1",
                    "wri_google_tree_cover_loss_drivers": "v2"})
    assert out == {"wri_google_tree_cover_loss_drivers": "v2"}
    out = apply_mx({"wri_google_tree_cover_loss_drivers": "v2",
                    "tsc_tree_cover_loss_drivers": "v1"})
    assert out == {"tsc_tree_cover_loss_drivers": "v1"}
    assert apply_mx(None) == {}
    assert apply_mx({"umd_tree_cover_loss": "v3"}) == {"umd_tree_cover_loss": "v3"}


def test_assets_list_and_create(app):
    out = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/assets")
    assert out["status"] == 200
    types = {a["asset_type"] for a in out["body"]["data"]}
    assert "database_table" in types
    default = next(a for a in out["body"]["data"] if a["is_default"])
    assert default["status"] == "saved"

    created = call(
        app, "POST", "/dataset/nasa_viirs_fire_alerts/v2024/assets",
        body={"asset_type": "csv"},
    )
    assert created["status"] == 202
    assert created["body"]["data"]["asset_type"] == "csv"

    after = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/assets")
    assert {a["asset_type"] for a in after["body"]["data"]} >= {"database_table", "csv"}


def test_assets_create_unsupported_type_400(app):
    out = call(
        app, "POST", "/dataset/nasa_viirs_fire_alerts/v2024/assets",
        body={"asset_type": "shapefile"},
    )
    assert out["status"] == 400


def test_raster_tile_cache_asset(app, spark):
    """POST a raster_tile_cache asset on the raster version and decode a
    rendered tile back (reference raster_tile_cache_assets job)."""
    import numpy as np

    from gfw_data_api_spark.llmops.multimodal import decode_png

    base = "/dataset/umd_tree_cover_loss/v1/assets"
    # missing / malformed symbology → 422 envelope, not 500
    for opts in (
        {},
        {"symbology": {"colormap": {}}},
        {"symbology": {"colormap": {"abc": [1, 2, 3]}}},
        {"symbology": {"colormap": {"2004": [1, 2]}}},
        {"symbology": {"colormap": {"2004": [1, 2, 300]}}},
        {"symbology": {"colormap": {"2004": [1, 2, 3]}}, "min_zoom": 9, "max_zoom": 2},
        {"symbology": {"colormap": {"2004": [1, 2, 3]}}, "min_zoom": "abc"},
        {"symbology": {"colormap": {"2004": [1, 2, 3]}}, "max_zoom": [3]},
        {"symbology": {"colormap": {"2004": [1, 2, 3]}}, "min_zoom": True},
        {"symbology": {"colormap": {"2004": [1, 2, 3]}}, "min_zoom": 25},
    ):
        out = call(app, "POST", base, body={
            "asset_type": "raster_tile_cache", "creation_options": opts,
        })
        assert out["status"] == 422, (opts, out["body"])

    out = call(app, "POST", base, body={
        "asset_type": "raster_tile_cache",
        "creation_options": {
            "min_zoom": 1,
            "max_zoom": 2,
            "symbology": {"type": "discrete", "colormap": {
                "2004": [228, 26, 28], "2014": [55, 126, 184],
            }},
        },
    })
    assert out["status"] == 202, out["body"]
    assert out["body"]["data"]["asset_type"] == "raster_tile_cache"

    registry = app._registry
    asset = next(
        a for a in registry.assets_for("umd_tree_cover_loss", "v1")
        if a.asset_type == "raster_tile_cache"
    )
    assert asset.status == "saved"
    tiles = spark.read.parquet(asset.asset_uri).collect()
    zs = {r["z"] for r in tiles}
    assert zs == {1, 2}
    img = decode_png(bytes(tiles[0]["png"]))
    assert img.shape == (256, 256, 4)
    painted = img[img[:, :, 3] == 255]
    # every painted pixel carries one of the two colormap colors (value 0
    # pixels are nodata and never ingested)
    assert len(painted) > 0
    assert {tuple(p[:3]) for p in painted} <= {(228, 26, 28), (55, 126, 184), (0, 0, 0)}


def test_assets_create_bad_zoom_422(app):
    """Non-numeric / out-of-range creation_options → 422 envelope, not 500."""
    base = "/dataset/nasa_viirs_fire_alerts/v2024/assets"
    for opts in (
        {"min_zoom": "abc"},
        {"max_zoom": [3]},
        {"min_zoom": True},
        {"min_zoom": 25},
        {"min_zoom": 5, "max_zoom": 2},
        {"max_features_per_tile": "many"},
        {"max_features_per_tile": 0},
    ):
        out = call(
            app, "POST", base,
            body={"asset_type": "static_vector_tile_cache", "creation_options": opts},
        )
        assert out["status"] == 422, (opts, out["body"])
        assert out["body"]["status"] == "failed"


def test_append_route(app, spark, tmp_path_factory):
    """POST /dataset/{d}/{v}/append — reference versions.py:200-271."""
    from gfw_data_api_spark.sources.pipeline import ingest_tabular as _ingest

    tmp = tmp_path_factory.mktemp("append_route")
    registry = app._registry
    base = str(tmp / "base.csv")
    extra = str(tmp / "extra.csv")
    import csv as csvmod2

    with open(base, "w", newline="") as fh:
        w = csvmod2.writer(fh)
        w.writerow(["alert_id", "iso"])
        for i in range(5):
            w.writerow([i, "MOZ"])
    with open(extra, "w", newline="") as fh:
        w = csvmod2.writer(fh)
        w.writerow(["alert_id", "iso"])
        for i in range(3, 8):  # overlaps 3, 4 — idempotent append dedups
            w.writerow([i, "BOL"])
    _ingest(registry, spark, "appendable", "v1", base, unique_on=["alert_id"],
            is_mutable=True)
    _ingest(registry, spark, "frozen", "v1", base, is_mutable=False)

    out = call(app, "POST", "/dataset/appendable/v1/append",
               body={"source_uri": [extra]})
    assert out["status"] == 200, out["body"]
    assert out["body"]["data"]["status"] == "saved"
    rows = call(app, "GET", "/dataset/appendable/v1/query/json",
                query="sql=SELECT%20count(*)%20AS%20c%20FROM%20data")
    assert rows["body"]["data"] == [{"c": 8}]  # 5 + 3 new, 2 dupes skipped

    # appending the same file again adds nothing (idempotent)
    call(app, "POST", "/dataset/appendable/v1/append", body={"source_uri": [extra]})
    rows = call(app, "GET", "/dataset/appendable/v1/query/json",
                query="sql=SELECT%20count(*)%20AS%20c%20FROM%20data")
    assert rows["body"]["data"] == [{"c": 8}]

    immutable = call(app, "POST", "/dataset/frozen/v1/append",
                     body={"source_uri": [extra]})
    assert immutable["status"] == 400
    assert "not mutable" in immutable["body"]["message"]

    missing = call(app, "POST", "/dataset/appendable/v1/append", body={})
    assert missing["status"] == 422

    bad_driver = call(app, "POST", "/dataset/appendable/v1/append",
                      body={"source_uri": [extra], "source_driver": "shp"})
    assert bad_driver["status"] == 400


def test_metadata_crud(app):
    """Dataset/version/asset metadata documents (crud/metadata.py)."""
    md = {"title": "Fire alerts", "citation": "NASA VIIRS", "tags": ["fire"]}
    out = call(app, "PATCH", "/dataset/nasa_viirs_fire_alerts", body={"metadata": md})
    assert out["status"] == 200
    assert out["body"]["data"]["metadata"]["title"] == "Fire alerts"

    # partial update leaves other fields alone
    call(app, "PATCH", "/dataset/nasa_viirs_fire_alerts",
         body={"metadata": {"subtitle": "daily"}})
    got = call(app, "GET", "/dataset/nasa_viirs_fire_alerts")
    assert got["body"]["data"]["metadata"]["title"] == "Fire alerts"
    assert got["body"]["data"]["metadata"]["subtitle"] == "daily"

    # unknown fields are rejected with the 422 envelope
    bad = call(app, "PATCH", "/dataset/nasa_viirs_fire_alerts",
               body={"metadata": {"not_a_field": 1}})
    assert bad["status"] == 422

    # version metadata: dataset base + non-null version overrides
    call(app, "PATCH", "/dataset/nasa_viirs_fire_alerts/v2024",
         body={"metadata": {"title": "Fire alerts v2024", "last_update": "2024-06-01"}})
    ver = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024")
    vmd = ver["body"]["data"]["metadata"]
    assert vmd["title"] == "Fire alerts v2024"  # override
    assert vmd["citation"] == "NASA VIIRS"      # inherited
    assert vmd["last_update"] == "2024-06-01"

    # asset metadata keyed by asset id
    assets = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/assets")
    asset_id = assets["body"]["data"][0]["asset_id"]
    base = f"/dataset/nasa_viirs_fire_alerts/v2024/assets/{asset_id}/metadata"
    assert call(app, "GET", base)["status"] == 404  # none yet
    set_ = call(app, "PATCH", base, body={"metadata": {"min_zoom": 0, "max_zoom": 9}})
    assert set_["status"] == 200
    got = call(app, "GET", base)
    assert got["body"]["data"] == {"min_zoom": 0, "max_zoom": 9}
    missing = call(
        app, "GET",
        "/dataset/nasa_viirs_fire_alerts/v2024/assets/not-an-asset/metadata",
    )
    assert missing["status"] == 404


def test_version_introspection_routes(app):
    base = "/dataset/nasa_viirs_fire_alerts/v2024"
    log = call(app, "GET", f"{base}/change_log")
    assert log["status"] == 200
    assert any(e["status"] == "saved" for e in log["body"]["data"])
    opts = call(app, "GET", f"{base}/creation_options")
    assert opts["status"] == 200
    assert "source_paths" in opts["body"]["data"]
    stats = call(app, "GET", f"{base}/stats")
    assert stats["status"] == 200
    assert stats["body"]["data"]["row_count"] == 99
    ext = call(app, "GET", f"{base}/extent")
    assert ext["status"] == 200
    raster_stats = call(app, "GET", "/dataset/umd_tree_cover_loss/v1/stats")
    assert raster_stats["status"] == 200
    assert raster_stats["body"]["data"]["n_pixels"] > 0
    md = call(app, "GET", f"{base}/metadata")
    assert md["status"] == 200


def test_asset_routes(app):
    assets = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/assets")
    asset_id = assets["body"]["data"][0]["asset_id"]
    got = call(app, "GET", f"/asset/{asset_id}")
    assert got["status"] == 200
    assert got["body"]["data"]["dataset"] == "nasa_viirs_fire_alerts"
    for sub in ("change_log", "creation_options", "fields", "extent", "stats"):
        out = call(app, "GET", f"/asset/{asset_id}/{sub}")
        assert out["status"] == 200, sub
    # default asset cannot be deleted directly
    denied = call(app, "DELETE", f"/asset/{asset_id}")
    assert denied["status"] == 409
    assert call(app, "GET", "/asset/no-such-asset")["status"] == 404


def test_delete_lifecycle(app, spark, tmp_path_factory):
    import csv as csvmod2

    registry = app._registry
    tmp = tmp_path_factory.mktemp("del")
    p = str(tmp / "x.csv")
    with open(p, "w", newline="") as fh:
        w = csvmod2.writer(fh)
        w.writerow(["id"]); w.writerow([1])
    from gfw_data_api_spark.sources.pipeline import ingest_tabular as _ingest
    _ingest(registry, spark, "doomed", "v1", p)
    _ingest(registry, spark, "doomed", "v2", p)  # v2 becomes latest

    # dataset with versions → 409
    assert call(app, "DELETE", "/dataset/doomed")["status"] == 409
    # latest version with siblings → 409
    assert call(app, "DELETE", "/dataset/doomed/v2")["status"] == 409
    # non-latest deletes fine
    assert call(app, "DELETE", "/dataset/doomed/v1")["status"] == 200
    # now v2 is the only version → deletable even though latest
    assert call(app, "DELETE", "/dataset/doomed/v2")["status"] == 200
    # empty dataset deletes; second delete 404
    assert call(app, "DELETE", "/dataset/doomed")["status"] == 200
    assert call(app, "DELETE", "/dataset/doomed")["status"] == 404


def test_version_scoped_geostore(app, spark, tmp_path_factory):
    import json as jsonmod

    registry = app._registry
    tmp = tmp_path_factory.mktemp("vgeo")
    src = tmp / "f.geojsonl"
    feats = []
    for i, x in enumerate([0.0, 20.0]):
        feats.append({"type": "Feature", "properties": {"fid": i},
                      "geometry": {"type": "Polygon", "coordinates":
                                   [[[x, 0.0], [x+1, 0.0], [x+1, 1.0], [x, 1.0], [x, 0.0]]]}})
    src.write_text("\n".join(jsonmod.dumps(f) for f in feats))
    from gfw_data_api_spark.sources.pipeline import ingest_vector as _ingest_v
    df = _ingest_v(registry, spark, "vec_geo", "v1", str(src))
    gid = df.select("gfw_geostore_id").first()[0]

    hit = call(app, "GET", f"/dataset/vec_geo/v1/geostore/{gid}")
    assert hit["status"] == 200
    assert hit["body"]["data"]["gfw_geostore_id"] == gid
    miss = call(app, "GET", "/dataset/vec_geo/v1/geostore/unknown-id")
    assert miss["status"] == 404
    # table dataset without geostore columns
    no_geo = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/geostore/x")
    assert no_geo["status"] == 404


@pytest.fixture(scope="module")
def gadm_app(app, spark):
    """Register a synthetic GADM-style admin boundary table on the app."""
    import json as jsonmod

    from gfw_data_api_spark.functions import geometry as geo

    registry = app._registry

    def poly(x):
        return {"type": "Polygon", "coordinates":
                [[[x, 0.0], [x + 2, 0.0], [x + 2, 2.0], [x, 2.0], [x, 0.0]]]}

    rows = []
    for level, gid0, gid1, gid2, country, n1, n2, x in [
        ("0", "BRA", None, None, "Brazil", None, None, 10.0),
        ("0", "CUW", None, None, "Cura\u00e7ao", None, None, 50.0),
        ("0", "MOZ", None, None, "Mozambique", None, None, 30.0),
        ("1", "BRA", "BRA.12_1", None, "Brazil", "Acre", None, 11.0),
        ("2", "BRA", "BRA.12_1", "BRA.12.3_1", "Brazil", "Acre", "Bujari", 11.5),
    ]:
        g = poly(x)
        gj = jsonmod.dumps(g)
        rows.append((level, gid0, gid1, gid2, country, n1, n2,
                     f"geo-{level}-{gid0}-{gid1}-{gid2}", gj,
                     geo.geodesic_area_ha(g), list(geo.bbox(g))))
    df = spark.createDataFrame(
        rows,
        "adm_level string, gid_0 string, gid_1 string, gid_2 string, "
        "country string, name_1 string, name_2 string, gfw_geostore_id string, "
        "gfw_geojson string, gfw_area__ha double, gfw_bbox array<double>",
    )
    registry.ensure_dataset("gadm_administrative_boundaries")
    registry.create_version("gadm_administrative_boundaries", "v4.1")
    asset = registry.create_asset(
        "gadm_administrative_boundaries", "v4.1", "geo_database_table",
        is_default=True,
    )
    df.write.mode("overwrite").parquet(asset.asset_uri)
    registry.set_asset_fields(asset.asset_id, df)
    registry.set_asset_status(asset.asset_id, "saved")
    registry.set_version_status("gadm_administrative_boundaries", "v4.1",
                                "saved", "test fixture")
    registry.set_latest("gadm_administrative_boundaries", "v4.1")
    return app


def test_admin_geostore_list(gadm_app):
    out = call(gadm_app, "GET", "/geostore/admin/list")
    assert out["status"] == 200
    assert [r["iso"] for r in out["body"]["data"]] == ["BRA", "CUW", "MOZ"]
    assert out["body"]["data"][0]["name"] == "Brazil"


def test_admin_geostore_levels(gadm_app):
    country = call(gadm_app, "GET", "/geostore/admin/BRA")
    assert country["status"] == 200
    attrs = country["body"]["data"]["attributes"]
    assert attrs["info"]["iso"] == "BRA"
    assert attrs["geojson"]["features"][0]["geometry"]["type"] == "Polygon"

    region = call(gadm_app, "GET", "/geostore/admin/BRA/12")
    assert region["status"] == 200
    assert region["body"]["data"]["attributes"]["info"]["id1"] == 12
    assert region["body"]["data"]["attributes"]["info"]["name"] == "Acre"

    sub = call(gadm_app, "GET", "/geostore/admin/BRA/12/3")
    assert sub["status"] == 200
    assert sub["body"]["data"]["attributes"]["info"]["id2"] == 3

    missing = call(gadm_app, "GET", "/geostore/admin/ZZZ")
    assert missing["status"] == 404
    bad_src = call(gadm_app, "GET", "/geostore/admin/BRA",
                   query="source%5Bprovider%5D=esri")
    assert bad_src["status"] == 400


def test_admin_geostore_region_id_stays_data(gadm_app):
    """A region id that would close a SQL string literal is matched
    literally: it finds no region instead of every level-1 one."""
    out = call(gadm_app, "GET", "/geostore/admin/ZZZ/1\\' OR true --")
    assert out["status"] == 404


def test_admin_geostore_simplify(gadm_app):
    out = call(gadm_app, "GET", "/geostore/admin/BRA", query="simplify=0.001")
    assert out["status"] == 200
    assert out["body"]["data"]["attributes"]["info"]["simplifyThresh"] == 0.001


def test_download_geotiff_roundtrip(app):
    from gfw_data_api_spark.raster.cog import read_cog

    out = call(
        app, "GET", "/dataset/umd_tree_cover_loss/v1/download/geotiff",
        query="grid=1%2F50&tile_id=01N_010E&pixel_meaning=year",
    )
    assert out["status"] == 200
    assert out["headers"]["Content-Type"] == "image/tiff"
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".tif") as tmp:
        raw = out["body"] if isinstance(out["body"], (bytes, bytearray)) else out["body"].encode("latin-1")
        tmp.write(raw)
        tmp.flush()
        levels = read_cog(tmp.name)
    assert levels[0]["array"].shape == (50, 50)

    missing_tile = call(
        app, "GET", "/dataset/umd_tree_cover_loss/v1/download/geotiff",
        query="grid=1%2F50&tile_id=09N_099E&pixel_meaning=year",
    )
    assert missing_tile["status"] == 404
    wrong_grid = call(
        app, "GET", "/dataset/umd_tree_cover_loss/v1/download/geotiff",
        query="grid=10%2F100&tile_id=01N_010E&pixel_meaning=year",
    )
    assert wrong_grid["status"] == 404
    not_raster = call(
        app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/download/geotiff",
        query="grid=1%2F50&tile_id=01N_010E&pixel_meaning=year",
    )
    assert not_raster["status"] == 501


def test_download_gpkg(gadm_app, spark, tmp_path):
    import sqlite3

    out = call(gadm_app, "GET",
               "/dataset/gadm_administrative_boundaries/v4.1/download/gpkg")
    # the GADM fixture has gfw_geojson but no geom binary column → 501
    assert out["status"] == 501

    # a vector dataset with a geom column works
    import json as jsonmod
    registry = gadm_app._registry
    src = tmp_path / "v.geojsonl"
    feats = [{"type": "Feature", "properties": {"fid": i},
              "geometry": {"type": "Point", "coordinates": [float(i), 0.0]}}
             for i in range(4)]
    src.write_text("\n".join(jsonmod.dumps(f) for f in feats))
    from gfw_data_api_spark.sources.pipeline import ingest_vector as _iv
    _iv(registry, spark, "gpkg_vec", "v1", str(src))
    out = call(gadm_app, "GET", "/dataset/gpkg_vec/v1/download/gpkg")
    assert out["status"] == 200
    blob = out["body"].encode("latin-1") if isinstance(out["body"], str) else out["body"]
    gpkg_path = tmp_path / "out.gpkg"
    gpkg_path.write_bytes(blob)
    con = sqlite3.connect(gpkg_path)
    n = con.execute("SELECT count(*) FROM gpkg_vec").fetchone()[0]
    assert n == 4

    shp = call(gadm_app, "GET", "/dataset/gpkg_vec/v1/download/shp")
    assert shp["status"] == 501


def test_download_by_aoi(gadm_app):
    # admin AOI: BRA polygon covers lon 10-12; fire table has no geom →
    # use the vector dataset from the gadm fixture via geostore AOI
    out = call(
        gadm_app, "GET",
        "/dataset/nasa_viirs_fire_alerts/v2024/download_by_aoi/json",
        query="aoi%5Btype%5D=bogus&sql=SELECT%20*%20FROM%20data",
    )
    assert out["status"] == 422

    # self-contained vector dataset: one point inside BRA's 10-12 box,
    # others outside
    import json as jsonmod
    import tempfile as tmpmod

    registry = gadm_app._registry
    spark_df_src = tmpmod.NamedTemporaryFile(
        mode="w", suffix=".geojsonl", delete=False
    )
    feats = [{"type": "Feature", "properties": {"fid": i},
              "geometry": {"type": "Point", "coordinates": [lon, 1.0]}}
             for i, lon in enumerate([11.0, 50.0, 60.0])]
    spark_df_src.write("\n".join(jsonmod.dumps(f) for f in feats))
    spark_df_src.close()
    from gfw_data_api_spark.sources.pipeline import ingest_vector as _iv
    from pyspark.sql import SparkSession as _S

    _iv(registry, _S.getActiveSession() or _S.builder.getOrCreate(),
        "aoi_vec", "v1", spark_df_src.name)

    geom = {"type": "Polygon",
            "coordinates": [[[10.0, 0.0], [12.0, 0.0], [12.0, 2.0], [10.0, 2.0], [10.0, 0.0]]]}
    gid = call(gadm_app, "POST", "/geostore", body={"geometry": geom})["body"]["data"]["gfw_geostore_id"]
    out = call(
        gadm_app, "GET", "/dataset/aoi_vec/v1/download_by_aoi/json",
        query=f"aoi%5Btype%5D=geostore&aoi%5Bgeostore_id%5D={gid}"
              "&sql=SELECT%20fid%20FROM%20data",
    )
    assert out["status"] == 200
    assert [r["fid"] for r in out["body"]["data"]] == [0]

    admin = call(
        gadm_app, "GET", "/dataset/aoi_vec/v1/download_by_aoi/csv",
        query="aoi%5Btype%5D=admin&aoi%5Bcountry%5D=BRA"
              "&sql=SELECT%20fid%20FROM%20data",
    )
    assert admin["status"] == 200
    assert admin["body"].splitlines()[1] == "0"


def test_political_id_lookup(gadm_app):
    out = call(gadm_app, "GET", "/political/id-lookup", query="country=Brazil")
    assert out["status"] == 200
    data = out["body"]["data"]
    assert data["matches"] == [{
        "country": {"id": "BRA", "name": "Brazil"},
        "region": {"id": None, "name": None},
        "subregion": {"id": None, "name": None},
    }]

    # normalized: accents + case folded
    accented = call(gadm_app, "GET", "/political/id-lookup", query="country=BRAZ%C3%8DL")
    assert accented["status"] == 200
    # 'Brazíl' normalizes to 'brazil' == lower('Brazil')
    assert len(accented["body"]["data"]["matches"]) == 1

    region = call(gadm_app, "GET", "/political/id-lookup",
                  query="country=Brazil&region=Acre")
    assert region["status"] == 200
    m = region["body"]["data"]["matches"][0]
    assert m["region"] == {"id": "12", "name": "Acre"}

    sub = call(gadm_app, "GET", "/political/id-lookup",
               query="country=Brazil&region=Acre&subregion=Bujari")
    assert sub["body"]["data"]["matches"][0]["subregion"]["id"] == "3"

    bad = call(gadm_app, "GET", "/political/id-lookup", query="subregion=X")
    assert bad["status"] == 400
    no_country = call(gadm_app, "GET", "/political/id-lookup")
    assert no_country["status"] == 400


def test_zonal_post_inline_geometry(app):
    geom = {
        "type": "Polygon",
        "coordinates": [[[10.1, 0.1], [10.9, 0.1], [10.9, 0.9], [10.1, 0.9], [10.1, 0.1]]],
    }
    out = call(app, "POST", "/analysis/zonal",
               body={"geometry": geom, "dataset": "umd_tree_cover_loss",
                     "sum": ["area__ha"], "group_by": ["umd_tree_cover_loss__year"]})
    assert out["status"] == 200
    assert len(out["body"]["data"]) == 2
    missing = call(app, "POST", "/analysis/zonal",
                   body={"dataset": "umd_tree_cover_loss"})
    assert missing["status"] == 422


def test_asset_tasks_and_task_lookup(app):
    assets = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/assets")
    asset_id = assets["body"]["data"][0]["asset_id"]
    tasks = call(app, "GET", f"/asset/{asset_id}/tasks")
    assert tasks["status"] == 200
    assert len(tasks["body"]["data"]) >= 1
    task_id = tasks["body"]["data"][0]["task_id"]
    one = call(app, "GET", f"/task/{task_id}")
    assert one["status"] == 200
    assert one["body"]["data"]["asset_id"] == asset_id
    assert call(app, "GET", "/task/nope:0")["status"] == 404
    assert call(app, "GET", f"/task/{asset_id}:999")["status"] == 404


def test_task_put_patch_status_propagation(app, spark, tmp_path_factory):
    """Batch-worker callback flow (reference tasks/task.py:60-129):
    PUT registers tasks, PATCH success/failure propagates to the asset
    and, for default assets, the version."""
    tmp = tmp_path_factory.mktemp("taskapi")
    registry = Registry(str(tmp / "cat"))
    registry.ensure_dataset("batchds")
    registry.create_version("batchds", "v1")
    asset = registry.create_asset("batchds", "v1", "database_table", is_default=True)
    tapp = create_app(spark, registry)

    # PUT twice → second is a 400 (RecordAlreadyExists analog)
    put = call(tapp, "PUT", "/task/t-1", body={"asset_id": asset.asset_id})
    assert put["status"] == 200
    assert put["body"]["data"]["status"] == "pending"
    assert call(tapp, "PUT", "/task/t-1", body={"asset_id": asset.asset_id})["status"] == 400
    # unknown asset and missing asset_id → 400
    assert call(tapp, "PUT", "/task/t-x", body={"asset_id": "nope"})["status"] == 400
    assert call(tapp, "PUT", "/task/t-x", body={})["status"] == 400
    call(tapp, "PUT", "/task/t-2", body={"asset_id": asset.asset_id})

    # invalid change-log status → 400, nothing propagates
    bad = call(tapp, "PATCH", "/task/t-1",
               body={"change_log": [{"status": "running", "message": "…"}]})
    assert bad["status"] == 400
    # one of two tasks succeeds → asset still pending
    ok1 = call(tapp, "PATCH", "/task/t-1",
               body={"change_log": [{"status": "success", "message": "chunk 1 loaded"}]})
    assert ok1["status"] == 200
    assert registry.get_asset(asset.asset_id).status == "pending"
    # second succeeds → asset saved, default-asset version saved
    call(tapp, "PATCH", "/task/t-2",
         body={"change_log": [{"status": "success", "message": "chunk 2 loaded"}]})
    assert registry.get_asset(asset.asset_id).status == "saved"
    assert registry.get_version("batchds", "v1").status == "saved"

    # GET serves the real task store
    got = call(tapp, "GET", "/task/t-1")
    assert got["status"] == 200
    assert got["body"]["data"]["status"] == "success"

    # failure path on a fresh version: failed task → asset + version failed
    registry.create_version("batchds", "v2")
    asset2 = registry.create_asset("batchds", "v2", "database_table", is_default=True)
    call(tapp, "PUT", "/task/t-3", body={"asset_id": asset2.asset_id})
    call(tapp, "PATCH", "/task/t-3",
         body={"change_log": [{"status": "failed", "message": "OOM"}]})
    assert registry.get_asset(asset2.asset_id).status == "failed"
    assert registry.get_version("batchds", "v2").status == "failed"
    # PATCH on an unknown task → 404
    assert call(tapp, "PATCH", "/task/nope",
                body={"change_log": [{"status": "success"}]})["status"] == 404

    # tasks persist across registry reloads
    reloaded = Registry(str(tmp / "cat"))
    assert reloaded.get_task("t-1").asset_id == asset.asset_id


def test_rw_proxy_routes(app, spark, tmp_path_factory):
    """/auth/sign-up and /geostore/use/{type}/{index} forward through
    the rw_api seam (reference authentication.py:35-38,
    geostore.py:279-303); without a client they answer 501, not 404."""
    # default app: mounted but unconfigured
    assert call(app, "POST", "/auth/sign-up", body={"name": "a", "email": "a@b.c"})["status"] == 501
    assert call(app, "GET", "/geostore/use/logging/123")["status"] == 501

    class FakeRW:
        def signup(self, name, email):
            return {"id": "u-1", "name": name, "email": email, "role": "USER"}

        def geostore_by_land_use(self, land_use_type, index, params):
            return {"type": land_use_type, "id": index,
                    "geojson": {"type": "FeatureCollection", "features": []}}

    tmp = tmp_path_factory.mktemp("rwapi")
    wired = create_app(spark, Registry(str(tmp / "cat")), rw_api=FakeRW())
    out = call(wired, "POST", "/auth/sign-up", body={"name": "Ada", "email": "ada@x.y"})
    assert out["status"] == 200
    assert out["body"]["data"]["email"] == "ada@x.y"
    got = call(wired, "GET", "/geostore/use/mining/77")
    assert got["status"] == 200
    assert got["body"]["data"] == {"type": "mining", "id": "77",
                                   "geojson": {"type": "FeatureCollection", "features": []}}


def test_id_lookup_accented_fallback(gadm_app):
    """Stored accented names must match both accented and plain queries
    even without *_normalized columns (both sides fold identically)."""
    for q in ("Cura%C3%A7ao", "curacao", "CURACAO"):
        out = call(gadm_app, "GET", "/political/id-lookup", query=f"country={q}")
        assert out["status"] == 200, q
        matches = out["body"]["data"]["matches"]
        assert len(matches) == 1, (q, matches)
        assert matches[0]["country"]["id"] == "CUW"


def test_append_schema_guards(app, spark, tmp_path):
    import csv as csvmod2

    registry = app._registry
    base = str(tmp_path / "b.csv")
    with open(base, "w", newline="") as fh:
        w = csvmod2.writer(fh)
        w.writerow(["id", "iso"]); w.writerow([1, "MOZ"])
    from gfw_data_api_spark.sources.pipeline import ingest_tabular as _ingest
    _ingest(registry, spark, "schema_guard", "v1", base, is_mutable=True)

    disjoint = str(tmp_path / "d.csv")
    with open(disjoint, "w", newline="") as fh:
        w = csvmod2.writer(fh)
        w.writerow(["other", "cols"]); w.writerow([1, 2])
    out = call(app, "POST", "/dataset/schema_guard/v1/append",
               body={"source_uri": [disjoint]})
    assert out["status"] == 400
    assert "columns" in out["body"]["message"]

    extra = str(tmp_path / "e.csv")
    with open(extra, "w", newline="") as fh:
        w = csvmod2.writer(fh)
        w.writerow(["id", "iso", "surprise"]); w.writerow([2, "BOL", "x"])
    out = call(app, "POST", "/dataset/schema_guard/v1/append",
               body={"source_uri": [extra]})
    assert out["status"] == 400
    assert "surprise" in out["body"]["message"]

    # subset appends stay allowed, and the table keeps every column:
    # the new rows carry NULL in the ones the batch lacks
    subset = str(tmp_path / "s.csv")
    with open(subset, "w", newline="") as fh:
        w = csvmod2.writer(fh)
        w.writerow(["id"]); w.writerow([5])
    out = call(app, "POST", "/dataset/schema_guard/v1/append",
               body={"source_uri": [subset]})
    assert out["status"] == 200
    table = registry.load(spark, "schema_guard", "v1")
    assert table.columns == ["id", "iso"]
    assert sorted(tuple(r) for r in table.collect()) == [(1, "MOZ"), (5, None)]
    rows = call(app, "POST", "/dataset/schema_guard/v1/query/json",
                body={"sql": "SELECT id, iso FROM data ORDER BY id"})
    assert rows["body"]["data"] == [{"id": 1, "iso": "MOZ"}, {"id": 5, "iso": None}]

    # the batch's header may list the columns in another order
    reordered = str(tmp_path / "r.csv")
    with open(reordered, "w", newline="") as fh:
        w = csvmod2.writer(fh)
        w.writerow(["iso", "id"]); w.writerow(["BOL", 6])
    out = call(app, "POST", "/dataset/schema_guard/v1/append",
               body={"source_uri": [reordered]})
    assert out["status"] == 200, out["body"]

    # a value that does not parse as the column's type is a 400 and
    # leaves no part file behind
    asset_dir = registry.get_default_asset("schema_guard", "v1").asset_uri
    parts = sorted(f for f in os.listdir(asset_dir) if f.endswith(".parquet"))
    malformed = str(tmp_path / "m.csv")
    with open(malformed, "w", newline="") as fh:
        w = csvmod2.writer(fh)
        w.writerow(["id", "iso"]); w.writerow([7, "BRA"]); w.writerow(["seven", "BRA"])
    out = call(app, "POST", "/dataset/schema_guard/v1/append",
               body={"source_uri": [malformed]})
    assert out["status"] == 400
    assert "seven" in out["body"]["message"]
    assert sorted(f for f in os.listdir(asset_dir) if f.endswith(".parquet")) == parts

    # source files whose headers disagree are a 400
    out = call(app, "POST", "/dataset/schema_guard/v1/append",
               body={"source_uri": [subset, reordered]})
    assert out["status"] == 400
    assert "headers" in out["body"]["message"]
    rows = call(app, "POST", "/dataset/schema_guard/v1/query/json",
                body={"sql": "SELECT id, iso FROM data ORDER BY id"})
    assert rows["body"]["data"] == [
        {"id": 1, "iso": "MOZ"}, {"id": 5, "iso": None}, {"id": 6, "iso": "BOL"},
    ]

    # driver must equal the original (csv); "text" passes (datapump)
    mismatch = call(app, "POST", "/dataset/schema_guard/v1/append",
                    body={"source_uri": [subset], "source_driver": "tsv"})
    assert mismatch["status"] == 400
    text_ok = call(app, "POST", "/dataset/schema_guard/v1/append",
                   body={"source_uri": [subset], "source_driver": "text"})
    assert text_ok["status"] == 200


def test_guarded_read_runs_no_job_before_its_collect(app, spark, monkeypatch, spark_jobs_started):
    """Table resolution, guard, translation and analysis run no Spark
    job: the first job of a guarded read is its collect's."""
    import gfw_data_api_spark.api.app as app_module

    at_collect = []
    collect = app_module.collect_with_timeout

    def probe(*args, **kwargs):
        at_collect.append(spark_jobs_started(spark))
        return collect(*args, **kwargs)

    monkeypatch.setattr(app_module, "collect_with_timeout", probe)
    before = spark_jobs_started(spark)
    out = call(app, "POST", "/dataset/nasa_viirs_fire_alerts/v2024/query/json",
               body={"sql": "SELECT iso, count(*) AS n FROM data GROUP BY iso ORDER BY iso"})
    assert out["status"] == 200
    assert out["body"]["data"] == [{"iso": "BOL", "n": 49}, {"iso": "MOZ", "n": 50}]
    assert at_collect == [before]


def test_append_runs_at_most_three_jobs(app, spark, tmp_path, spark_jobs_started):
    """An append is the dedup, the anti-join and the write: no schema
    inference of the batch or the table, and no re-read."""
    import csv as csvmod2

    from gfw_data_api_spark.sources.pipeline import ingest_tabular as _ingest

    base, batch = str(tmp_path / "base.csv"), str(tmp_path / "batch.csv")
    for path, ids in ((base, range(0, 200)), (batch, range(150, 250))):
        with open(path, "w", newline="") as fh:
            w = csvmod2.writer(fh)
            w.writerow(["alert_id", "iso", "frp"])
            w.writerows([i, "MOZ", i * 0.5] for i in ids)
    _ingest(app._registry, spark, "job_count", "v1", base, unique_on=["alert_id"], is_mutable=True)
    before = spark_jobs_started(spark)
    out = call(app, "POST", "/dataset/job_count/v1/append", body={"source_uri": [batch]})
    assert out["status"] == 200, out["body"]
    assert spark_jobs_started(spark) - before <= 3
    rows = call(app, "GET", "/dataset/job_count/v1/query/json",
                query="sql=SELECT%20count(*)%20AS%20c%20FROM%20data")
    assert rows["body"]["data"] == [{"c": 250}]


def test_source_uri_allowlist(app, spark, tmp_path_factory):
    from gfw_data_api_spark.api.app import create_app as _ca

    registry = app._registry
    restricted = _ca(spark, registry,
                     allowed_source_prefixes=["/data/lake/"])
    restricted._registry = registry
    out = call(restricted, "POST", "/dataset/umd_tree_cover_loss/v1/query/batch",
               body={"sql": "SELECT count(*) AS n FROM data",
                     "uri": "/etc/passwd"})
    assert out["status"] == 400
    assert "Invalid sources" in out["body"]["message"]


def test_list_route_pagination_contract(app):
    """Reference pagination (app/utils/paginate.py + tests_v2
    *_with_pagination): plain list without page params; links/meta
    envelope with them; 4xx on size<1, number<1, number>max."""
    # plain mode: no links/meta keys
    plain = call(app, "GET", "/datasets")
    assert "links" not in plain["body"] and "meta" not in plain["body"]

    paged = call(app, "GET", "/datasets", query="page%5Bnumber%5D=1&page%5Bsize%5D=1")
    assert paged["status"] == 200
    body = paged["body"]
    assert len(body["data"]) == 1
    assert body["meta"]["size"] == 1 and body["meta"]["total_items"] >= 2
    assert body["meta"]["total_pages"] == body["meta"]["total_items"]
    assert body["links"]["self"] == "/datasets?page[number]=1&page[size]=1"
    assert body["links"]["prev"] == "" and body["links"]["next"] != ""

    # size-only and number-only still paginate
    assert "meta" in call(app, "GET", "/datasets", query="page%5Bsize%5D=10")["body"]
    assert "links" in call(app, "GET", "/datasets", query="page%5Bnumber%5D=1")["body"]

    # bounds → 422
    assert call(app, "GET", "/datasets", query="page%5Bsize%5D=0")["status"] == 422
    assert call(app, "GET", "/datasets", query="page%5Bnumber%5D=0")["status"] == 422
    assert call(app, "GET", "/datasets", query="page%5Bnumber%5D=999")["status"] == 422

    # assets + tasks lists take the same envelope
    assets = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/assets",
                  query="page%5Bnumber%5D=1")
    assert assets["status"] == 200 and "links" in assets["body"]
    asset_id = assets["body"]["data"][0]["asset_id"]
    tasks = call(app, "GET", f"/asset/{asset_id}/tasks", query="page%5Bsize%5D=5")
    assert tasks["status"] == 200 and tasks["body"]["meta"]["size"] == 5


def test_datamart_csv_accept_with_parameters(spark, tmp_path_factory):
    """Accept negotiation must match the text/csv token, not the exact
    header string — 'text/csv; charset=utf-8' and multi-value lists."""
    from gfw_data_api_spark.operators import datamart as dm

    tmp = tmp_path_factory.mktemp("dmcsv")
    registry = Registry(str(tmp / "cat"))
    app2 = create_app(spark, registry)
    resource = {
        "resource_id": "r-1", "status": "saved", "canopy_cover": 30,
        "result": {"tree_cover_loss_by_driver": [],
                   "yearly_tree_cover_loss_by_driver": [
                       {"drivers_type": "Wildfire", "loss_year": 2020,
                        "loss_area_ha": 1.5, "gross_carbon_emissions_Mg": 2.5}]},
    }
    dm._write_resource(registry, resource)
    for accept in ("text/csv; charset=utf-8", "text/csv, application/json", "text/csv"):
        out = call(app2, "GET", "/datamart/tree_cover_loss_by_driver/r-1",
                   headers={"accept": accept})
        assert out["status"] == 200, accept
        assert out["body"].splitlines()[1] == "Wildfire,2020,1.5,2.5", accept
    # no accept header → JSON envelope
    out = call(app2, "GET", "/datamart/tree_cover_loss_by_driver/r-1")
    assert out["body"]["data"]["resource_id"] == "r-1"
    # q=0 is an EXPLICIT rejection of CSV; substring-containing types and
    # wildcards must not trigger CSV either (advice r3)
    for accept in ("text/csv;q=0", "text/csv; q=0.0, application/json",
                   "application/vnd.text/csvx", "text/*", "*/*"):
        out = call(app2, "GET", "/datamart/tree_cover_loss_by_driver/r-1",
                   headers={"accept": accept})
        assert out["status"] == 200, accept
        assert out["body"]["data"]["resource_id"] == "r-1", accept
    # q>0 still negotiates CSV
    out = call(app2, "GET", "/datamart/tree_cover_loss_by_driver/r-1",
               headers={"accept": "text/csv;q=0.5"})
    assert out["body"].splitlines()[1] == "Wildfire,2020,1.5,2.5"


def test_tile_serving_routes(app, spark):
    """GET /dataset/{d}/{v}/tile/{z}/{x}/{y}.png serves a decodable tile
    from the raster tile store; wrong coords 404, bad paths 422, and a
    version without the asset 404s."""
    from gfw_data_api_spark.llmops.multimodal import decode_png

    registry = app._registry
    asset = next(
        a for a in registry.assets_for("umd_tree_cover_loss", "v1")
        if a.asset_type == "raster_tile_cache"
    )
    tiles = spark.read.parquet(asset.asset_uri).select("z", "x", "y").collect()
    z, x, y = tiles[0]["z"], tiles[0]["x"], tiles[0]["y"]

    out = call(app, "GET", f"/dataset/umd_tree_cover_loss/v1/tile/{z}/{x}/{y}.png")
    assert out["status"] == 200
    assert out["headers"]["Content-Type"] == "image/png"
    img = decode_png(bytes(out["body"]) if isinstance(out["body"], (bytes, bytearray)) else out["body"].encode("latin1"))
    assert img.shape == (256, 256, 4)

    # absent tile coordinates → 404
    out = call(app, "GET", "/dataset/umd_tree_cover_loss/v1/tile/9/511/511.png")
    assert out["status"] == 404
    # malformed path → 422
    out = call(app, "GET", "/dataset/umd_tree_cover_loss/v1/tile/a/b/c.png")
    assert out["status"] == 422
    out = call(app, "GET", f"/dataset/umd_tree_cover_loss/v1/tile/{z}/{x}/{y}.gif")
    assert out["status"] == 422
    # version with no tile cache asset → 404 with the asset-type message
    out = call(app, "GET", "/dataset/nasa_viirs_fire_alerts/v2024/tile/0/0/0.png")
    assert out["status"] == 404
    assert "raster_tile_cache" in out["body"]["message"]


def test_interval_column_renders_pg_style(app):
    """Round-9 (VERDICT r8 #8): a timestamp - timestamp result column
    serializes in PG's default IntervalStyle in BOTH response formats,
    not Spark's INTERVAL '…' DAY TO SECOND and not Python's
    '1 day, 2:00:00' — downloads of interval columns stay
    engine-portable (docs/PARITY.md interval-rendering note)."""
    sql = (
        "SELECT timestamp '2024-01-03 03:30:00' "
        "- timestamp '2024-01-01 01:30:00' AS itv, "
        "timestamp '2024-01-01 01:00:00' "
        "- timestamp '2024-01-02 03:00:00' AS neg, "
        "timestamp '2024-01-01 05:15:00' "
        "- timestamp '2024-01-01 03:00:00' AS sub_day "
        "FROM data LIMIT 1"
    )
    out = call(
        app, "POST", "/dataset/nasa_viirs_fire_alerts/v2024/query/json",
        body={"sql": sql},
    )
    assert out["status"] == 200
    row = out["body"]["data"][0]
    assert row["itv"] == "2 days 02:00:00"
    assert row["neg"] == "-1 days -02:00:00"
    assert row["sub_day"] == "02:15:00"

    out = call(
        app, "POST", "/dataset/nasa_viirs_fire_alerts/v2024/query/csv",
        body={"sql": sql},
    )
    assert out["status"] == 200
    lines = out["body"].strip().splitlines()
    assert lines[1] == '"2 days 02:00:00","-1 days -02:00:00","02:15:00"'


SQUARE = {
    "type": "Polygon",
    "coordinates": [[[10.1, 0.1], [10.4, 0.1], [10.4, 0.4], [10.1, 0.4], [10.1, 0.1]]],
}


@pytest.mark.parametrize(
    "method, path, body, status, message",
    [
        ("POST", "/geostore", b"{not json", 400, "Invalid JSON body."),
        ("PUT", "/task/t-without-asset", {}, 400, "asset_id is required."),
        ("GET", "/job/no-such-job", None, 404, "Job not found."),
        ("GET", "/nope", None, 404, "Not found."),
        (
            "DELETE",
            "/dataset/nasa_viirs_fire_alerts/v2024/assets/{asset_id}/metadata",
            None,
            405,
            "Method not allowed.",
        ),
        (
            "POST",
            "/datamart/tree_cover_loss_by_driver",
            {"geometry": SQUARE, "canopy_cover": 30},
            409,
            "already exists with those parameters.",
        ),
        (
            "GET",
            "/dataset/nasa_viirs_fire_alerts/v2024/download/shp",
            None,
            501,
            "This endpoint is not implemented for the given dataset.",
        ),
        ("POST", "/auth/sign-up", {"name": "n", "email": "e"}, 501, "no rw_api client"),
    ],
)
def test_failures_share_one_envelope(app, spark, tmp_path, method, path, body, status, message):
    """Every refused request answers with the same JSON failure envelope,
    its status code and the code's standard reason phrase."""
    from http import HTTPStatus

    target = app
    if status == 409:
        # a repeated datamart POST; on an empty catalog so the first
        # POST's background compute fails at once
        target = create_app(spark, Registry(str(tmp_path / "catalog")))
        assert call(target, method, path, body=body)["status"] == 202
    asset_id = app._registry.get_default_asset("nasa_viirs_fire_alerts", "v2024").asset_id
    out = call(target, method, path.format(asset_id=asset_id), body=body)
    assert out["status"] == status, out["body"]
    assert out["status_line"] == f"{status} {HTTPStatus(status).phrase}"
    assert out["headers"]["Content-Type"] == "application/json"
    assert out["headers"]["Content-Length"] == str(len(out["raw"]))
    assert set(out["body"]) == {"status", "message"}
    assert out["body"]["status"] == "failed"
    assert message in out["body"]["message"]


def test_byte_responses_carry_length_and_disposition(app, spark):
    """A CSV download, a tile and a GeoTIFF each state their exact length
    and, for files, the attachment name."""
    downloads = [
        (
            "/dataset/nasa_viirs_fire_alerts/v2024/download/csv",
            "",
            "text/csv",
            'attachment; filename="nasa_viirs_fire_alerts_v2024.csv"',
        ),
        (
            "/dataset/umd_tree_cover_loss/v1/download/geotiff",
            "grid=1%2F50&tile_id=01N_010E&pixel_meaning=year",
            "image/tiff",
            'attachment; filename="umd_tree_cover_loss_01N_010E.tif"',
        ),
    ]
    cache = next(
        a for a in app._registry.assets_for("umd_tree_cover_loss", "v1")
        if a.asset_type == "raster_tile_cache"
    )
    z, x, y = spark.read.parquet(cache.asset_uri).select("z", "x", "y").first()
    tile = f"/dataset/umd_tree_cover_loss/v1/tile/{z}/{x}/{y}.png"
    downloads.append((tile, "", "image/png", None))
    for path, query, content_type, disposition in downloads:
        out = call(app, "GET", path, query=query)
        assert out["status_line"] == "200 OK", path
        assert out["headers"]["Content-Type"] == content_type
        assert out["headers"]["Content-Length"] == str(len(out["raw"])) != "0"
        assert out["headers"].get("Content-Disposition") == disposition
