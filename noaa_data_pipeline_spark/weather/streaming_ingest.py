"""Streaming lake ingestion + compaction (SURVEY §2.8, M6).

The reference's daemon is an hourly pull loop that uploads one
parquet file per (type, hour) (daemon/src/main.rs:33-50). The Spark
form: a file-source Structured Stream watches an inbox directory of
raw snapshot files and writes them into the partitioned lake layout
(`file_type=/ingest_date=`), exactly-once via checkpointing. Run
with ``availableNow`` on a scheduler for the reference's hourly
cadence, or leave running with a processing-time trigger.

Compaction: hourly appends produce one small file per trigger per
partition — at 100 TB that's the classic small-files problem.
``compact_partition`` rewrites a date partition to target-sized
files; it's a metadata-safe overwrite of one directory.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lake


def ingest_stream(
    spark: SparkSession,
    inbox_dir: str,
    lake_root: str,
    file_type: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream raw snapshot parquet from ``inbox_dir`` into the lake.

    The ingested_at/ingest_date columns derive from each row's
    generated_at (the daemon stamps snapshots at pull time; for lake
    purposes the snapshot's own timestamp is the partition key).
    The file-source checkpoint guarantees each inbox file is
    processed once across restarts; see _append for the write-side
    delivery caveat.
    """
    raw = spark.readStream.schema(lake.SCHEMAS[file_type]).parquet(inbox_dir)
    enriched = (
        raw.withColumn("ingested_at", F.col("generated_at"))
        .withColumn("file_type", F.lit(file_type))
        .withColumn("ingest_date", F.to_date("generated_at"))
    )

    # foreachBatch (not the parquet streaming sink): the sink's
    # _spark_metadata commit log pins the exact file set, which makes
    # the lake unreadable after compaction rewrites files. Batch
    # appends keep the lake a plain partitioned directory. The source
    # checkpoint still guarantees each inbox file is processed once;
    # the write itself is at-least-once across a crash between write
    # and checkpoint commit (a table format turns this back into
    # exactly-once).
    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").partitionBy("file_type", "ingest_date").parquet(
            lake_root
        )

    writer = (
        enriched.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="1 hour").start()


def compact_partition(
    spark: SparkSession,
    lake_root: str,
    file_type: str,
    ingest_date: str,
    target_files: int = 1,
) -> int:
    """Rewrite one (file_type, ingest_date) partition into
    ``target_files`` files. Returns the row count. Scale: compaction
    runs per-partition (parallelize across dates via a scheduler);
    the rewrite never touches other partitions, and readers see the
    directory atomically swapped by the final rename. The partition
    is read under its declared file schema, so snapshots that drifted
    (a nullable column missing) compact into files that carry every
    column."""
    part_dir = os.path.join(
        lake_root, f"file_type={file_type}", f"ingest_date={ingest_date}"
    )
    df = spark.read.schema(lake.file_schema(file_type)).parquet(part_dir)
    n = df.count()
    tmp_dir = part_dir + "__compact_tmp"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp_dir)
    import shutil

    shutil.rmtree(part_dir)
    os.rename(tmp_dir, part_dir)
    # Readers list the lake through Spark's shared FileStatusCache,
    # which has no public per-path purge (refreshByPath only covers
    # registered/cached Datasets) — stale entries would point at the
    # deleted pre-compaction files. Dropping the whole cache is the
    # available lever on raw parquet; a table format (Delta/Iceberg)
    # makes compaction a metadata commit and removes this entirely.
    spark._jvm.org.apache.spark.sql.execution.datasources.FileStatusCache.resetForTesting()
    spark.catalog.refreshByPath(lake_root)
    return n


def lake_file_stats(spark: SparkSession, lake_root: str) -> DataFrame:
    """Files-per-partition histogram — the compaction trigger metric."""
    files = functools.reduce(
        DataFrame.unionByName,
        [
            lake.read_lake(spark, lake_root, ft).select(
                "file_type", "ingest_date", F.input_file_name().alias("f")
            )
            for ft in lake.SCHEMAS
        ],
    )
    return (
        files.groupBy("file_type", "ingest_date")
        .agg(F.countDistinct("f").alias("n_files"), F.count("*").alias("n_rows"))
    )
