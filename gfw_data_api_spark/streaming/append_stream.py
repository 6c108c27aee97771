"""Streaming appends: the near-real-time alert ingestion path.

The reference models NRT datasets (VIIRS, GLAD) as append-only mutable
versions fed by repeated POST /append calls with idempotent loads
(SURVEY.md §1.4; app/routes/datasets/versions.py:202-271,
batch/scripts/load_tabular_data.sh). Here a Structured Streaming file
source over a landing directory tracks which files were ingested, and
each micro-batch is one ``append_tabular`` call on its new files:

- ``Trigger.AvailableNow`` drains whatever files have landed and stops,
  with checkpointed exactly-once file tracking (re-running never
  double-ingests a file).
- The stream reads each file's path only (``binaryFile``), never its
  contents; ``append_tabular`` reads, deduplicates and writes the batch
  exactly as POST /append does.
- A bad landing file (a value that does not parse as its column's type,
  a header outside the table's columns) makes ``append_tabular`` raise
  its ``RegistryError``: nothing is written, the micro-batch is not
  committed, and ``stream_append`` raises that error. Once the file is
  fixed in place, the next run appends it.
- No watermarks/stateful operators — the reference has no such semantics
  (SURVEY.md §2.7) — but the same job with a processing-time trigger is
  a continuous ingest on a cluster.
"""

from __future__ import annotations

import os

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession

from gfw_data_api_spark.catalog.registry import Registry, RegistryError
from gfw_data_api_spark.sources.pipeline import append_tabular

# the binaryFile source's fixed schema; a streaming source must declare it
BINARY_FILE_SCHEMA = "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"


def stream_append(
    registry: Registry,
    spark: SparkSession,
    dataset: str,
    version: str,
    landing_dir: str,
    checkpoint_dir: str | None = None,
    delimiter: str = ",",
) -> DataFrame:
    """Drain the landing directory into a mutable version (E3/E16 parity),
    exactly-once per file via the streaming checkpoint. Returns the
    post-append DataFrame."""
    registry.assert_appendable(dataset, version)
    checkpoint = checkpoint_dir or os.path.join(
        registry.root, "checkpoints", dataset, version
    )
    stream = (
        spark.readStream.format("binaryFile").schema(BINARY_FILE_SCHEMA).load(landing_dir).select("path")
    )
    errors: list[RegistryError] = []

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        paths = [row.path for row in batch_df.collect()]
        if paths:
            try:
                append_tabular(registry, spark, dataset, version, paths, delimiter)
            except RegistryError as exc:
                errors.append(exc)
                raise

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    except StreamingQueryException:
        if errors:
            raise errors[-1] from None
        raise
    return registry.load(spark, dataset, version)
