"""Warehouse IO: partitioned parquet tables + completed-partition manifest.

Iceberg-shaped layout without the Iceberg runtime (not bundled in this
sandbox): output partitioned by crawl_date (days(warc_ts)) — swap
``write_output`` for ``df.writeTo(tbl).overwritePartitions()`` when an
Iceberg catalog is configured; everything else is unchanged.

Write distribution: every partitioned sink (``write_output``, the stream sink
in ``streaming.stream.start_stream``) first goes through
``cluster_by_partition``, a rebalance shuffle on crawl_date — the analogue of
Iceberg's ``write.distribution-mode=hash`` (and of Delta's optimized writes).
Without it every task writes its own file into every date it touches, so the
file count is tasks x dates instead of about one per date.

Checkpoint-resume semantics (north rule): the reference persists per-document
completion (App.tsx:176); at cluster scale that becomes a manifest of
completed partitions. ``remaining_partitions`` anti-joins input partitions
against the manifest, so a restarted job re-processes only unfinished
partitions (idempotent re-run, no streaming state)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_partition_cols(df: DataFrame, ts_col: str = "warc_ts", url_buckets: int = 64) -> DataFrame:
    return df.withColumn("crawl_date", F.to_date(ts_col)).withColumn(
        "url_bucket", F.pmod(F.xxhash64("url"), F.lit(url_buckets)).cast("int")
    )


def cluster_by_partition(df: DataFrame) -> DataFrame:
    """Rebalance rows by crawl_date just before a partitioned write, so each
    date lands in one writer task (Iceberg's hash write distribution).

    Under AQE (batch) the rebalance is sized by bytes: small dates coalesce
    into one task and a skewed date splits across several, so the shuffle
    stays bounded at any scale. A streaming query has no AQE: the dates hash
    over ``spark.sql.shuffle.partitions`` tasks and each micro-batch writes
    at most one file per date. Apply it after the per-doc Python stage, so
    that stage keeps its own round-robin balance."""
    return df.hint("rebalance", "crawl_date")


def write_output(df: DataFrame, warehouse: str, table: str, mode: str = "overwrite") -> None:
    """Write ``df`` as a parquet table partitioned by crawl_date, hash
    distributed on that key (``cluster_by_partition``): about one file per
    date, the layout Iceberg's ``write.distribution-mode=hash`` gives."""
    (
        cluster_by_partition(df).write.mode(mode)
        .partitionBy("crawl_date")
        .parquet(os.path.join(warehouse, table))
    )


def read_table(spark: SparkSession, warehouse: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(warehouse, table))


def write_manifest(df_partitions: DataFrame, warehouse: str) -> None:
    """Append completed partition keys (crawl_date) to the manifest table."""
    df_partitions.write.mode("append").parquet(os.path.join(warehouse, "_manifest"))


def remaining_partitions(input_df: DataFrame, spark: SparkSession, warehouse: str) -> DataFrame:
    """Filter the input to partitions not yet recorded in the manifest."""
    path = os.path.join(warehouse, "_manifest")
    try:
        done = spark.read.parquet(path).select("crawl_date").distinct()
    except Exception:
        return input_df
    return input_df.join(F.broadcast(done), "crawl_date", "left_anti")
