import os

import pytest

from gfw_data_api_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_spark(app_name="gfw-tests", shuffle_partitions=8)
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_jobs_started():
    """``jobs(spark)``: the jobs the DAG scheduler has been handed so far
    in the session (the counter the API benchmark reads)."""
    return lambda spark: int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture(scope="module")
def catalog_schema_check(spark):
    """After the module's tests, every asset they recorded ``fields`` for
    (and did not delete) reads through ``Registry.load`` with exactly the
    schema Spark infers from its parquet files."""
    from gfw_data_api_spark.catalog.registry import Registry

    recorded = []
    original = Registry.set_asset_fields

    def recording(self, asset_id, df):
        original(self, asset_id, df)
        recorded.append((self, asset_id))

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Registry, "set_asset_fields", recording)
        yield
    checked, mismatched = 0, []
    for registry, asset_id in recorded:
        asset = registry._assets.get(asset_id)
        if asset is None:
            continue
        catalog = registry.load(spark, asset=asset).schema
        inferred = spark.read.parquet(asset.asset_uri).schema
        checked += 1
        if catalog != inferred:
            mismatched.append((asset.dataset, asset.version, catalog, inferred))
    assert checked, "the module recorded no asset fields"
    assert not mismatched, mismatched
