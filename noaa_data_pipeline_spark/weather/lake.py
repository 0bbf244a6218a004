"""Partitioned weather lake: layout + pruned readers.

The reference stores one parquet file per (type, hour) under
``data/<YYYY-MM-DD>/`` and prunes by parsing directory dates and
filename timestamps in application code (oracle/src/file_access.rs:119-145).
Here the same information lives in the layout itself —

    <root>/file_type=forecasts/ingest_date=2024-08-11/part-*.parquet

plus an ``ingested_at`` column replacing the filename timestamp — so
Catalyst partition-prunes directories and parquet row-group stats
prune within files; no hand-rolled file listing (SURVEY §2 S10, §4).

Readers take the writer's declared schemas (schemas.py) instead of
inferring one from file footers, so planning a read runs no Spark
job. Schema drift is handled by the declaration: a snapshot written
without a nullable column reads back with nulls in it, and a file
type that has not landed yet reads as an empty frame.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import FORECAST_SCHEMA, OBSERVATION_SCHEMA

FORECASTS = "forecasts"
OBSERVATIONS = "observations"

# file type -> the columns its writer declares
SCHEMAS = {FORECASTS: FORECAST_SCHEMA, OBSERVATIONS: OBSERVATION_SCHEMA}

_PARTITION_FIELDS = [
    T.StructField("file_type", T.StringType()),
    T.StructField("ingest_date", T.DateType()),
]


def file_schema(file_type: str) -> T.StructType:
    """Columns stored in one lake file: the declared data columns plus
    ``ingested_at`` (the partition columns live in the path)."""
    return T.StructType(
        SCHEMAS[file_type].fields + [T.StructField("ingested_at", T.TimestampType())]
    )


def write_snapshot(df: DataFrame, root: str, file_type: str, ingested_at: dt.datetime) -> None:
    """Append one hourly snapshot (the reference's one-file-per-pull,
    daemon/src/parquet_handler.rs:17-57). Scale: an hourly append of
    a few MB per partition; compaction can run as a separate job."""
    (
        df.withColumn("ingested_at", F.lit(ingested_at).cast("timestamp"))
        .withColumn("file_type", F.lit(file_type))
        .withColumn("ingest_date", F.to_date(F.lit(ingested_at.date().isoformat())))
        .write.mode("append")
        .partitionBy("file_type", "ingest_date")
        .parquet(root)
    )


def read_lake(
    spark: SparkSession,
    root: str,
    file_type: str,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
) -> DataFrame:
    """Pruned read of one fact table under its declared schema.

    Only ``root/file_type=<type>`` is listed; the ``ingest_date``
    filters hit the partition column, so Catalyst eliminates whole
    directories before any IO (the reference's grab_file_names, done
    declaratively); the ``ingested_at`` filter prunes row groups via
    parquet stats (the filename-timestamp check,
    file_access.rs:47-79). Columns a snapshot lacks read as nulls; a
    type with no files yet reads as an empty frame.
    """
    schema = T.StructType(file_schema(file_type).fields + _PARTITION_FIELDS)
    type_dir = os.path.join(root, f"file_type={file_type}")
    if not os.path.isdir(type_dir):
        return spark.createDataFrame([], schema)
    df = spark.read.schema(schema).option("basePath", root).parquet(type_dir)
    if start is not None:
        df = df.filter(
            (F.col("ingest_date") >= F.lit(start.date().isoformat()))
            & (F.col("ingested_at") >= F.lit(start).cast("timestamp"))
        )
    if end is not None:
        df = df.filter(
            (F.col("ingest_date") <= F.lit(end.date().isoformat()))
            & (F.col("ingested_at") <= F.lit(end).cast("timestamp"))
        )
    return df
