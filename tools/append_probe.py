#!/usr/bin/env python
"""Growing-table append probe: what one idempotent append costs as the
table it lands in grows.

For each table size, writes a mutable table of that many rows straight
to parquet (registered with its fields and a unique constraint on
``alert_id``, as ingest would leave it), then appends 2,000-row CSV
batches through ``sources.pipeline.append_tabular``. A quarter of each
batch's keys are already in the table, so the anti-join drops them.
Prints, per size, the median wall time and Spark jobs per append
(jobs are read from the DAG scheduler's job counter). The first append
per size is a warmup and is not counted. Results go in
docs/BENCH_NOTES.md.

Usage:
    python tools/append_probe.py [--rows 50000,1000000,8000000]
                                 [--appends 5] [--work DIR]

The session uses ``SPARK_GRAFT_CPUS`` cores and ``SPARK_DRIVER_MEMORY``
(default here 2g).
"""

from __future__ import annotations

import argparse
import csv
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH_ROWS = 2_000
DUP_SHARE = 0.25


def write_table(spark, registry, dataset: str, rows: int) -> None:
    """A mutable ``rows``-row table with ids 0 .. rows-1, registered the
    way ``ingest_tabular`` registers one."""
    from pyspark.sql import functions as F

    registry.create_dataset(dataset)
    registry.create_version(dataset, "v1", is_mutable=True)
    asset = registry.create_asset(
        dataset, "v1", "database_table", is_default=True,
        creation_options={"delimiter": ",", "unique_constraint": ["alert_id"]},
    )
    df = spark.range(rows).select(
        F.col("id").cast("int").alias("alert_id"),
        F.element_at(F.array(*[F.lit(c) for c in ("BRA", "IDN", "COD", "BOL")]),
                     (F.col("id") % 4 + 1).cast("int")).alias("iso"),
        ((F.col("id") * 7919) % 50_000 / 100.0).alias("frp"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 90).cast("int")).alias("alert__date"),
    )
    df.write.mode("overwrite").parquet(asset.asset_uri)
    registry.set_asset_fields(asset.asset_id, spark.read.parquet(asset.asset_uri))
    registry.set_asset_status(asset.asset_id, "saved")
    registry.set_version_status(dataset, "v1", "saved")


def write_batch(path: str, rows_now: int, seed: int) -> int:
    """A batch of fresh ids from ``rows_now`` on plus duplicates of
    existing ids; returns the number of fresh rows."""
    import random

    rng = random.Random(seed)
    n_dup = int(BATCH_ROWS * DUP_SHARE)
    n_fresh = BATCH_ROWS - n_dup
    ids = list(range(rows_now, rows_now + n_fresh)) + rng.sample(range(rows_now), n_dup)
    rng.shuffle(ids)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["alert_id", "iso", "frp", "alert__date"])
        for i in ids:
            w.writerow([i, rng.choice(["BRA", "IDN"]), rng.randrange(1, 50_000) / 100.0,
                        f"2024-02-{rng.randrange(1, 29):02d}"])
    return n_fresh


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--rows", default="50000,1000000,8000000")
    p.add_argument("--appends", type=int, default=5, help="timed appends per size")
    p.add_argument("--work", default=None, help="directory for the tables and batches (default: the system temp dir)")
    args = p.parse_args()
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

    from gfw_data_api_spark.catalog.registry import Registry
    from gfw_data_api_spark.session import get_spark
    from gfw_data_api_spark.sources.pipeline import append_tabular

    work = tempfile.mkdtemp(prefix="append_probe_", dir=args.work)
    spark = get_spark(app_name="append-probe")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    registry = Registry(os.path.join(work, "catalog"))
    try:
        for rows in [int(r) for r in args.rows.split(",")]:
            dataset = f"alerts_{rows}"
            write_table(spark, registry, dataset, rows)
            rows_now, ms, jobs = rows, [], []
            for k in range(args.appends + 1):
                batch = os.path.join(work, f"{dataset}_batch{k}.csv")
                fresh = write_batch(batch, rows_now, seed=k)
                job0, t0 = dag.nextJobId(), time.perf_counter()
                append_tabular(registry, spark, dataset, "v1", [batch])
                if k:  # the first append warms up
                    ms.append((time.perf_counter() - t0) * 1000.0)
                    jobs.append(dag.nextJobId() - job0)
                rows_now += fresh
            count = registry.load(spark, dataset, "v1").count()
            assert count == rows_now, (count, rows_now)
            print(
                f"rows={rows} appends={args.appends} append_ms_median={statistics.median(ms):.0f} "
                f"append_ms=[{', '.join(f'{m:.0f}' for m in ms)}] jobs_per_append={statistics.median(jobs):g}",
                flush=True,
            )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
