"""Tabular (CSV/TSV/parquet) source handling.

Covers SURVEY.md §2.2 rows E1 (scan + schema inference + declared-type
overrides), E2 (partition layouts), E3 (idempotent append), E4 (point
geometry derivation), E9 (physical clustering), E10 (unique-constraint
dedup). Reference behavior: batch/scripts/create_tabular_schema.sh,
load_tabular_data.sh, app/tasks/table_source_assets.py:21-370.

Everything is declarative DataFrame code: Catalyst handles pushdown and
pruning; partition layout (E2) maps to parquet ``partitionBy`` directories
so partition pruning replaces Postgres partition elimination at scale.
"""

from __future__ import annotations

import csv
import math
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# delimiter vocabulary of the reference (app/models/enum/creation_options.py:26-31)
DELIMITERS = {",": ",", "\t": "\t", "|": "|", ";": ";"}

# PGType enum → Spark types (app/models/enum/pg_types.py:6-57)
PG_TYPE_TO_SPARK: dict[str, T.DataType] = {
    "bigint": T.LongType(),
    "boolean": T.BooleanType(),
    "character varying": T.StringType(),
    "date": T.DateType(),
    "double precision": T.DoubleType(),
    "geometry": T.BinaryType(),  # WKB convention
    "integer": T.IntegerType(),
    "jsonb": T.StringType(),
    "numeric": T.DecimalType(38, 10),
    "smallint": T.ShortType(),
    "text": T.StringType(),
    "time": T.StringType(),
    "timestamp": T.TimestampNTZType(),
    "timestamp without time zone": T.TimestampNTZType(),
    "uuid": T.StringType(),
    "xml": T.StringType(),
}


@dataclass
class FieldType:
    """Declared schema override (creation_options.py:112-115)."""

    name: str
    data_type: str  # a PGType name


@dataclass
class Partitions:
    """Partition layout (creation_options.py:73-110).

    - hash: N hash buckets on a column → a derived bucket column
    - list: named partitions, each a list of values
    - range: named partitions with [start, end) bounds
    """

    partition_type: str  # "hash" | "list" | "range"
    partition_column: str
    partition_count: int | None = None  # hash
    partition_schema: list[dict] = field(default_factory=list)  # list/range


# Tables whose operators are CPU-bound per row (shingling, hashing,
# vector math, regex) rather than scan-bound. The driver's testdata ships
# them as single-row-group parquet, which parquet cannot split — without a
# fanout the whole map side of every text/vector operator runs as ONE
# task. An explicit repartition(N) costs a tiny shuffle (<1 MB of docs)
# and buys full-core parallelism; AQE never coalesces an explicit-N
# repartition. Scan-bound tables (lineitem etc.) stay as-is: for a cheap
# hash-agg the shuffle costs more than the single-task scan (measured
# 0.12s → 0.48s on the sf0.1 pricing summary).
_FANOUT_TABLES = {"documents", "embeddings"}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool | None = None
) -> DataFrame:
    """Load one of the driver's testdata tables, normalizing types.

    The synthetic ``events`` table stores TIMESTAMP(NANOS), which the JVM
    parquet reader surfaces as nanosecond longs (see session.py); values are
    microsecond-aligned, so the conversion below is lossless.

    ``fanout`` forces (True) or suppresses (False) the compute-table
    repartition described on ``_FANOUT_TABLES``.
    """
    # The gate harness may hand us a SparkSession that session.py did not
    # build, so the confs the read path depends on must be set here at
    # runtime (both are runtime-settable): nanosAsLong so the TIMESTAMP
    # (NANOS) events table reads as long instead of crashing, and a UTC
    # session TZ so window()/date_format results are host-TZ independent.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # TIMESTAMP(NANOS) surfaced as ns longs under nanosAsLong.
            # integer `div`, NOT `/`: float division of ~1.7e18 ns exceeds a
            # double's 2^53 exact-integer range and corrupts the low micros
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as TIMESTAMP_NTZ
            # (inferTimestampNTZ). Under the UTC session TZ set above, the
            # NTZ→LTZ cast is value-identical; downstream operators
            # (unix_micros, window(), watermarks) expect plain TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    if fanout is None:
        fanout = name in _FANOUT_TABLES
    if fanout:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def read_tabular_source(
    spark: SparkSession,
    paths: list[str] | str,
    delimiter: str = ",",
    table_schema: list[FieldType] | None = None,
    sample_rows: int = 100,
    schema: T.StructType | None = None,
) -> DataFrame:
    """E1: scan CSV/TSV with inferred schema + declared type overrides.

    The reference infers from the first ``sample_rows`` lines via csvsql
    (batch/scripts/create_tabular_schema.sh); Spark's reader does the same
    job via ``inferSchema``. Declared ``table_schema`` entries override the
    inferred type per column, mirroring the sed rewrite of the generated DDL.

    A given ``schema`` replaces inference (no Spark job at read time): its
    fields must name every file's header columns in header order, which
    Spark checks per file, and a value that does not parse as its field's
    type fails the job (``FAILFAST``) instead of turning into NULL.
    """
    reader = (
        spark.read.option("header", True)
        .option("delimiter", DELIMITERS.get(delimiter, delimiter))
        .option("nullValue", "")
    )
    if schema is None:
        reader = reader.option("inferSchema", True).option("samplingRatio", 1.0)
    else:
        reader = reader.schema(schema).option("enforceSchema", False).option("mode", "FAILFAST")
    df = reader.csv(paths)
    for override in table_schema or []:
        spark_type = PG_TYPE_TO_SPARK.get(override.data_type.lower())
        if spark_type is None:
            raise ValueError(f"unknown PG type: {override.data_type}")
        if override.name in df.columns:
            df = df.withColumn(override.name, F.col(override.name).cast(spark_type))
    return df


def csv_headers(
    spark: SparkSession, paths: list[str] | str, delimiter: str = ","
) -> dict[str, list[str]]:
    """The header of every file of a CSV/TSV source, keyed by file.

    Each path may be a file, a directory (its visible files) or a glob,
    as for Spark's reader. The first line of each file is read on the
    driver through Hadoop's ``FileSystem``, decompressed by the codec its
    extension names, and split with Python's ``csv`` module: no Spark
    job. Empty files have no header and are left out; a path that
    matches nothing raises ``FileNotFoundError``.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    sep = DELIMITERS.get(delimiter, delimiter)
    headers: dict[str, list[str]] = {}
    for path in [paths] if isinstance(paths, str) else paths:
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(conf)
        matched = fs.globStatus(jpath)
        if not matched:
            raise FileNotFoundError(path)
        files = []
        for status in matched:
            if status.isDirectory():
                files += [
                    child.getPath()
                    for child in fs.listStatus(status.getPath())
                    if child.isFile() and not child.getPath().getName().startswith(("_", "."))
                ]
            else:
                files.append(status.getPath())
        for file in files:
            raw = fs.open(file)
            try:
                codec = codecs.getCodec(file)
                stream = raw if codec is None else codec.createInputStream(raw)
                line = jvm.java.io.BufferedReader(
                    jvm.java.io.InputStreamReader(stream, "UTF-8")
                ).readLine()
            finally:
                raw.close()
            if line:
                headers[file.toString()] = next(csv.reader([line], delimiter=sep))
    return headers


def add_point_geometry(
    df: DataFrame,
    latitude: str = "latitude",
    longitude: str = "longitude",
    geom_col: str = "geom",
) -> DataFrame:
    """E4: derive point geometry columns from lat/lng.

    ``{geom}`` is WKB Point(lon, lat) EPSG:4326 (pure column math via a
    binary-encoding expression) and ``{geom}_wm`` holds web-mercator
    coordinates computed natively (x = R*λ, y = R*ln(tan(π/4 + φ/2))) —
    reference: batch/scripts/_add_point_geometry_fields_sql.sh,
    _fill_point_geometry_fields_sql.sh.
    """
    from gfw_data_api_spark.functions.geo_udfs import make_point_wkb

    R = 6378137.0
    lon, lat = F.col(longitude), F.col(latitude)
    df = df.withColumn(geom_col, make_point_wkb(lon, lat))
    df = df.withColumn(f"{geom_col}_wm_x", F.radians(lon) * F.lit(R))
    df = df.withColumn(
        f"{geom_col}_wm_y",
        F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / F.lit(2.0))) * F.lit(R),
    )
    return df


def partition_expr(partitions: Partitions) -> F.Column:
    col = F.col(partitions.partition_column)
    if partitions.partition_type == "hash":
        n = partitions.partition_count or 16
        return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")
    if partitions.partition_type == "list":
        expr = F.lit(None).cast("string")
        branches = None
        for spec in partitions.partition_schema:
            cond = col.isin(list(spec["value_list"]))
            branches = (
                F.when(cond, F.lit(spec["partition_suffix"]))
                if branches is None
                else branches.when(cond, F.lit(spec["partition_suffix"]))
            )
        return branches.otherwise(F.lit("default")) if branches is not None else expr
    if partitions.partition_type == "range":
        branches = None
        for spec in partitions.partition_schema:
            cond = (col >= F.lit(spec["start_value"])) & (col < F.lit(spec["end_value"]))
            branches = (
                F.when(cond, F.lit(spec["partition_suffix"]))
                if branches is None
                else branches.when(cond, F.lit(spec["partition_suffix"]))
            )
        return branches.otherwise(F.lit("default")) if branches is not None else F.lit("default")
    raise ValueError(f"unknown partition type: {partitions.partition_type}")


def write_table(
    df: DataFrame,
    path: str,
    partitions: Partitions | None = None,
    cluster_on: list[str] | None = None,
    unique_on: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """E2 + E9 + E10: write a version's default asset as parquet.

    - partitions → a physical ``_part`` directory column (list/range/hash),
      giving Catalyst partition pruning (the Spark analog of PG partition
      elimination, SURVEY.md §4.1).
    - cluster_on → ``sortWithinPartitions`` before write (the CLUSTER analog;
      parquet min/max column stats then act like a clustered btree for
      file/row-group skipping).
    - unique_on → ``dropDuplicates`` (≤1 unique constraint, E10).
    """
    if unique_on:
        df = df.dropDuplicates(unique_on)
    writer_df = df
    partition_by: list[str] = []
    if partitions is not None:
        writer_df = df.withColumn("_part", partition_expr(partitions))
        partition_by = ["_part"]
    if cluster_on:
        if partition_by:
            writer_df = writer_df.repartition(*[F.col(c) for c in partition_by])
        writer_df = writer_df.sortWithinPartitions(*(partition_by + cluster_on))
    writer = writer_df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def append_new_rows(
    existing: DataFrame, incoming: DataFrame, unique_on: list[str]
) -> DataFrame:
    """E3: idempotent append — the Spark translation of the reference's
    temp-table + ``INSERT ... ON CONFLICT DO NOTHING``
    (batch/scripts/load_tabular_data.sh).

    Returns only the incoming rows whose key is not already present.
    ``left_anti`` is a shuffle-on-key join; at scale, bucketed layouts on
    the unique key make it co-located and shuffle-free. Its right side
    needs no ``distinct``: an anti-join keeps a row whenever no match
    exists, however many there are, and a distinct costs the whole
    table an extra aggregation.
    """
    deduped = incoming.dropDuplicates(unique_on)
    return deduped.join(existing.select(*unique_on), on=unique_on, how="left_anti")


# widening-only promotions (Postgres ALTER COLUMN ... TYPE analogs that
# never lose information); anything else is a 400-class schema error
_WIDENINGS: dict[tuple[str, str], str] = {
    ("smallint", "int"): "int",
    ("smallint", "bigint"): "bigint",
    ("int", "bigint"): "bigint",
    ("smallint", "double"): "double",
    ("int", "double"): "double",
    ("float", "double"): "double",
    ("date", "timestamp"): "timestamp",
}


def evolve_union_schema(existing: T.StructType, incoming: T.StructType) -> T.StructType:
    """Union schema with widening-only type promotion.

    New incoming columns append (nullable); shared columns must have
    equal types or a listed widening in either direction; conflicting
    types raise ``ValueError`` (schema evolution never guesses).
    """
    out: list[T.StructField] = []
    incoming_by_name = {f.name: f for f in incoming.fields}
    for f in existing.fields:
        inc = incoming_by_name.get(f.name)
        if inc is None or inc.dataType == f.dataType:
            out.append(T.StructField(f.name, f.dataType, True))
            continue
        a, b = f.dataType.simpleString(), inc.dataType.simpleString()
        widened = _WIDENINGS.get((a, b)) or _WIDENINGS.get((b, a))
        if widened is None:
            raise ValueError(
                f"Column {f.name!r}: incompatible types {a} vs {b} "
                "(only widening promotions are allowed)."
            )
        widened_type = {
            "int": T.IntegerType(),
            "bigint": T.LongType(),
            "double": T.DoubleType(),
            "timestamp": T.TimestampType(),
        }[widened]
        out.append(T.StructField(f.name, widened_type, True))
    for f in incoming.fields:
        if f.name not in {g.name for g in out}:
            out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out)


def append_with_evolution(
    spark: SparkSession, path: str, incoming: DataFrame
) -> DataFrame:
    """Append allowing additive/widening schema drift (beyond-reference;
    the reference requires "match or subset", pipeline.append_tabular).

    If the union schema differs from what is on disk, the existing data
    is REWRITTEN to the union schema first, so the parquet directory
    stays schema-homogeneous and every reader (none of which pass
    ``mergeSchema``) sees one consistent schema. The rewrite is the
    price of not carrying a lakehouse metadata layer; schema-change
    events are rare, and Delta/Iceberg pay a metadata commit instead.
    Returns the post-append DataFrame.
    """
    from gfw_data_api_spark.sources.compaction import recover_swap

    recover_swap(path)  # heal a crashed previous swap before reading
    existing = spark.read.parquet(path)
    union = evolve_union_schema(existing.schema, incoming.schema)

    def conform(df: DataFrame) -> DataFrame:
        cols = [
            (
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in union.fields
        ]
        return df.select(*cols)

    if existing.schema != union:
        from gfw_data_api_spark.sources.compaction import swap_directory

        swap_directory(
            path, lambda tmp: conform(existing).write.mode("overwrite").parquet(tmp)
        )
    conform(incoming).write.mode("append").parquet(path)
    return spark.read.parquet(path)
