"""Catalog plane tests: dataset/version/asset lifecycle, latest alias,
mutation guard (reference: tests of versions/assets routes + middleware)."""

import pytest

from gfw_data_api_spark.catalog import Registry, RegistryError, default_asset_type


@pytest.fixture()
def registry(tmp_path):
    return Registry(str(tmp_path / "catalog"))


def test_dataset_version_asset_lifecycle(registry):
    registry.create_dataset("fires")
    registry.create_version("fires", "v1")
    asset = registry.create_asset("fires", "v1", "database_table", is_default=True)
    assert registry.get_default_asset("fires", "v1").asset_id == asset.asset_id
    registry.set_version_status("fires", "v1", "saved")
    assert registry.get_version("fires", "v1").status == "saved"
    assert registry.get_version("fires", "v1").change_log[-1]["status"] == "saved"


def test_latest_alias_resolution(registry):
    registry.create_dataset("fires")
    registry.create_version("fires", "v1")
    registry.create_version("fires", "v2")
    registry.set_latest("fires", "v1")
    assert registry.resolve_version("fires", "latest") == "v1"
    registry.set_latest("fires", "v2")
    assert registry.resolve_version("fires", "latest") == "v2"
    # only one latest at a time
    assert not registry.get_version("fires", "v1").is_latest


def test_latest_without_any_latest_404(registry):
    registry.create_dataset("fires")
    registry.create_version("fires", "v1")
    with pytest.raises(RegistryError) as exc:
        registry.resolve_version("fires", "latest")
    assert exc.value.status_code == 404


def test_mutation_guard(registry):
    registry.create_dataset("fires")
    registry.create_version("fires", "static", is_mutable=False)
    registry.create_version("fires", "nrt", is_mutable=True)
    with pytest.raises(RegistryError):
        registry.assert_appendable("fires", "static")
    assert registry.assert_appendable("fires", "nrt").version == "nrt"


def test_single_default_asset(registry):
    registry.create_dataset("d")
    registry.create_version("d", "v1")
    registry.create_asset("d", "v1", "database_table", is_default=True)
    with pytest.raises(RegistryError):
        registry.create_asset("d", "v1", "geo_database_table", is_default=True)
    # non-default aux assets are fine
    registry.create_asset("d", "v1", "csv")


def test_default_asset_type_rule():
    assert default_asset_type("vector") == "geo_database_table"
    assert default_asset_type("table", has_lat_lng=True) == "geo_database_table"
    assert default_asset_type("table") == "database_table"
    assert default_asset_type("raster") == "raster_tile_set"


def test_registry_persistence_roundtrip(tmp_path):
    root = str(tmp_path / "catalog")
    first = Registry(root)
    first.create_dataset("d")
    first.create_version("d", "v1")
    first.create_asset("d", "v1", "database_table", is_default=True)
    first.set_latest("d", "v1")

    reloaded = Registry(root)
    assert reloaded.resolve_version("d", "latest") == "v1"
    assert reloaded.get_default_asset("d", "v1").asset_type == "database_table"


def test_asset_job_lifecycle(registry, monkeypatch):
    registry.create_dataset("d")
    version = registry.ensure_version("d", "v1")
    assert registry.ensure_version("d", "v1") is version
    default = registry.create_asset("d", "v1", "database_table", is_default=True)
    aux = registry.create_asset("d", "v1", "csv")
    saves = []
    monkeypatch.setattr(registry, "save", lambda: saves.append(1))

    with registry.asset_job(default, "ingest complete"):
        assert default.status == "pending"
    assert (default.status, version.status) == ("saved", "saved")
    assert version.change_log[-1]["message"] == "ingest complete"
    assert len(saves) == 1

    # a non-default asset fails alone and the error propagates
    with pytest.raises(ValueError, match="boom"), registry.asset_job(aux):
        raise ValueError("boom")
    assert (aux.status, aux.change_log[-1]["message"]) == ("failed", "boom")
    assert version.status == "saved"
    assert len(saves) == 2

    with pytest.raises(ValueError), registry.asset_job(default):
        raise ValueError("late failure")
    assert (default.status, version.status) == ("failed", "failed")
    assert version.change_log[-1]["message"] == "late failure"
