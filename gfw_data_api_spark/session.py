"""SparkSession factory tuned for this engine.

Test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration is what we would ship to a 1000-executor cluster — only
master/memory sizing changes. Notes on the choices:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting.
  At 100 TB, static ``spark.sql.shuffle.partitions`` can never be right for
  every stage; AQE re-plans per stage from runtime statistics.
- Arrow on: every pandas UDF / toPandas crosses the JVM<->Python boundary
  in columnar Arrow batches instead of pickled rows.
- UTC session timezone: parquet timestamps compare bit-identically against
  external oracles regardless of host TZ.
- Broadcast threshold stays at the 10 MB default; dimension tables
  (region/nation/grid cells/registry) broadcast automatically, and we add
  explicit ``F.broadcast`` hints where the optimizer can't know sizes.
- Python workers start through :mod:`gfw_data_api_spark.worker_daemon`:
  PySpark's worker invalidates import caches at every task, and before
  Python 3.12 that re-reads ``pyspark.zip`` and the ``spark-core`` jar
  (160–280 ms per Python-UDF task on 4 cores). The daemon makes the
  re-read conditional on the archive changing on disk. The workers get
  the package's parent directory on ``PYTHONPATH``, so the daemon imports
  wherever the calling script runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from gfw_data_api_spark import compat

compat.install()  # YearMonthIntervalType collection shim (see compat.py)

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory that holds the package, for the Python workers' import path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "gfw-data-api-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PG error parity (x/0, int overflow, invalid ::int casts RAISE
        # like Postgres) must not ride on Spark's version default —
        # pinned here and re-checked at every guarded execution
        # (dialect.require_ansi). The dialect opts back into
        # NULL-semantics deliberately per-site via try_cast/try_*.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/gfw_spark_warehouse"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # The driver's synthetic events table stores TIMESTAMP(NANOS) which
        # the JVM parquet reader does not support natively; read as long and
        # convert (see sources.tabular.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "gfw_data_api_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
