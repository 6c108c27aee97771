"""The engine's Python-worker daemon: zipimporters re-read an archive only
when it changed on disk, and the engine's sessions start their UDF
workers through it."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from gfw_data_api_spark import worker_daemon

MODULE = "gfw_zipstamp_probe"
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_archive(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MODULE}.py", body)


@pytest.fixture
def probe_archive(tmp_path, monkeypatch):
    """An archive on ``sys.path`` holding ``MODULE`` with ``X = 1``, its
    importer, and a counter of central-directory reads."""
    archive = str(tmp_path / "probe.zip")
    _write_archive(archive, "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, MODULE, raising=False)
    assert importlib.import_module(MODULE).X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # install() wraps the class method; monkeypatch puts the stock one back
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    worker_daemon.install()
    yield archive, importer, reads
    sys.modules.pop(MODULE, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(probe_archive):
    archive, importer, reads = probe_archive
    for _ in range(5):
        importer.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_changed_archive_is_reread_once(probe_archive):
    archive, importer, reads = probe_archive
    _write_archive(archive, "X = 2  # a new size, so a new stamp\n")
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]
    del sys.modules[MODULE]
    assert importlib.import_module(MODULE).X == 2


def test_vanished_archive_falls_back_to_the_stdlib(probe_archive):
    archive, importer, reads = probe_archive
    os.remove(archive)
    importer.invalidate_caches()
    assert reads == [archive]
    assert importer._files == {}


def test_session_workers_run_the_engine_daemon(spark):
    """A UDF worker of the engine's session has the stat-checked
    invalidation installed, and an ordinary pandas UDF still returns the
    right rows."""

    @pandas_udf("string")
    def invalidate_module(x: pd.Series) -> pd.Series:
        import zipimport as worker_zipimport

        return pd.Series([worker_zipimport.zipimporter.invalidate_caches.__module__] * len(x))

    @pandas_udf("long")
    def plus_one(x: pd.Series) -> pd.Series:
        return x + 1

    df = spark.range(10).coalesce(1)
    assert {r[0] for r in df.select(invalidate_module("id")).collect()} == {
        "gfw_data_api_spark.worker_daemon"
    }
    assert sorted(r[0] for r in df.select(plus_one("id")).collect()) == list(range(1, 11))


def test_udf_workers_import_the_engine_outside_the_repo(tmp_path):
    """A script run from another directory, with no ``PYTHONPATH``, that
    puts the repo root on its own ``sys.path``: the JVM starts the engine
    daemon in that directory, and a pandas UDF still returns its rows."""
    script = tmp_path / "probe.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys

            sys.path.insert(0, {REPO_ROOT!r})

            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            from gfw_data_api_spark.session import get_spark

            spark = get_spark(app_name="worker-path-probe")

            @pandas_udf("long")
            def plus_one(x: pd.Series) -> pd.Series:
                return x + 1

            print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.strip().splitlines()[-1] == "[1, 2, 3]"
