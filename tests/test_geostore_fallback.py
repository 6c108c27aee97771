"""Geostore multi-origin fallback (catalog/geostore.py, reference
app/utils/geostore.py): local first, external resolvers next, 404 only
after every source misses, 500 on a source error."""

from __future__ import annotations

import pytest

from gfw_data_api_spark.catalog.geostore import Geostore
from gfw_data_api_spark.catalog.registry import Registry, RegistryError

SQUARE = {
    "type": "Polygon",
    "coordinates": [[[10.0, 0.0], [11.0, 0.0], [11.0, 1.0], [10.0, 1.0], [10.0, 0.0]]],
}


@pytest.fixture()
def registry(tmp_path):
    return Registry(str(tmp_path / "cat"))


def _fake_rw(known: dict):
    calls = []

    def resolve(geostore_id):
        calls.append(geostore_id)
        return known.get(geostore_id)

    resolve.calls = calls
    return resolve


def test_local_hit_never_calls_external(spark, registry):
    rw = _fake_rw({})
    gs = Geostore(registry, external_resolvers={"rw": rw})
    entry = gs.create(SQUARE)
    got = gs.get(spark, entry["gfw_geostore_id"])
    assert got["gfw_geostore_id"] == entry["gfw_geostore_id"]
    assert rw.calls == []


def test_external_fallback_hit(spark, registry):
    record = {
        "gfw_geostore_id": "ext-1",
        "gfw_geojson": '{"type": "Point", "coordinates": [1.0, 2.0]}',
        "gfw_area__ha": 0.0,
        "gfw_bbox": [1.0, 2.0, 1.0, 2.0],
    }
    gs = Geostore(registry, external_resolvers={"rw": _fake_rw({"ext-1": record})})
    assert gs.get(spark, "ext-1") == record
    assert gs.geometry(spark, "ext-1")["type"] == "Point"


def test_origin_order_client_choice_first(spark, registry):
    """origin='rw' asks the external service before the local store."""
    rw = _fake_rw({})
    gs = Geostore(registry, external_resolvers={"rw": rw})
    entry = gs.create(SQUARE)
    got = gs.get(spark, entry["gfw_geostore_id"], origin="rw")
    assert got["gfw_geostore_id"] == entry["gfw_geostore_id"]
    assert rw.calls == [entry["gfw_geostore_id"]]  # rw consulted first, missed


def test_404_only_after_all_sources_miss(spark, registry):
    rw = _fake_rw({})
    gs = Geostore(registry, external_resolvers={"rw": rw})
    with pytest.raises(RegistryError) as err:
        gs.get(spark, "nope")
    assert err.value.status_code == 404
    assert rw.calls == ["nope"]  # the external source WAS consulted


def test_source_error_is_500_not_404(spark, registry):
    def broken(geostore_id):
        raise ConnectionError("rw-api unreachable")

    gs = Geostore(registry, external_resolvers={"rw": broken})
    with pytest.raises(RegistryError) as err:
        gs.get(spark, "nope")
    assert err.value.status_code == 500
    assert "rw-api unreachable" in str(err.value)


def _inherited_fixture(spark, registry, n=4):
    """A saved geo_database_table version carrying n geostore rows."""
    import json as _json

    rows = []
    for i in range(n):
        gj = _json.dumps({"type": "Point", "coordinates": [float(i), 0.0]})
        rows.append((f"inh-{i}", gj, 0.0, [float(i), 0.0, float(i), 0.0]))
    df = spark.createDataFrame(
        rows,
        "gfw_geostore_id string, gfw_geojson string, gfw_area__ha double, "
        "gfw_bbox array<double>",
    )
    registry.ensure_dataset("vec")
    registry.create_version("vec", "v1")
    asset = registry.create_asset("vec", "v1", "geo_database_table", is_default=True)
    df.write.mode("overwrite").parquet(asset.asset_uri)
    registry.set_asset_status(asset.asset_id, "saved")
    registry.set_version_status("vec", "v1", "saved", "fixture")


def test_get_many_single_action_for_inherited_ids(spark, registry):
    """The batch path must resolve every inherited id with ONE Spark job,
    not a limit-1 collect per id."""
    _inherited_fixture(spark, registry)
    ext = {
        "gfw_geostore_id": "ext-9",
        "gfw_geojson": '{"type": "Point", "coordinates": [9.0, 9.0]}',
        "gfw_area__ha": 0.0,
        "gfw_bbox": [9.0, 9.0, 9.0, 9.0],
    }
    gs = Geostore(registry, external_resolvers={"rw": _fake_rw({"ext-9": ext})})
    local = gs.create(SQUARE)

    sc = spark.sparkContext

    def jobs_for(group: str, ids: list[str]):
        sc.setJobGroup(group, "batch geostore resolution")
        try:
            resolved = gs.get_many(spark, ids)
        finally:
            sc.setJobGroup(None, None)
        return resolved, len(sc.statusTracker().getJobIdsForGroup(group))

    _, jobs_one = jobs_for("gm-one", ["inh-0"])
    got, jobs_many = jobs_for(
        "gm-many", [local["gfw_geostore_id"], "inh-0", "inh-2", "inh-3", "ext-9"]
    )
    # job count must not scale with the id list (schema read + one
    # filtered collect, regardless of how many ids resolve)
    assert jobs_many == jobs_one, (jobs_one, jobs_many)
    assert set(got) == {local["gfw_geostore_id"], "inh-0", "inh-2", "inh-3", "ext-9"}
    assert got["inh-2"]["gfw_geojson"] == '{"type": "Point", "coordinates": [2.0, 0.0]}'
    assert got["ext-9"] == ext
    # geometry_many decodes in id order
    geoms = gs.geometry_many(spark, ["inh-0", "inh-3"])
    assert geoms["inh-3"]["coordinates"] == [3.0, 0.0]


def test_inherited_view_skips_tables_the_catalog_rules_out(spark, registry):
    """A geo table whose recorded fields lack the geostore columns is
    never opened; one without recorded fields is still read."""
    _inherited_fixture(spark, registry, n=2)
    registry.create_version("vec", "v2")
    other = registry.create_asset("vec", "v2", "geo_database_table", is_default=True)
    other.fields = [{"name": "fid", "data_type": "bigint", "is_feature_info": True}]
    registry.set_version_status("vec", "v2", "saved", "fields only, no files")
    union = Geostore(registry).inherited_view(spark)
    assert sorted(r["gfw_geostore_id"] for r in union.collect()) == ["inh-0", "inh-1"]


def test_get_many_404_names_every_missing_id(spark, registry):
    _inherited_fixture(spark, registry, n=1)
    gs = Geostore(registry, external_resolvers={"rw": _fake_rw({})})
    with pytest.raises(RegistryError) as exc:
        gs.get_many(spark, ["inh-0", "nope-1", "nope-2"])
    assert exc.value.status_code == 404
    assert "nope-1" in exc.value.detail and "nope-2" in exc.value.detail
