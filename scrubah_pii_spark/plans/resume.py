"""Checkpoint-resume orchestration for the flagship pipeline (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Unit of resume = crawl_date partition of the LABEL stage. The per-document
half of the pipeline (label_stage) is row-local, so any partition subset
labels to exactly the same rows as a full run; the corpus-global half
(dedup, leak check, sinks) must see every surviving row at once, so it runs
only after the stage table is complete. That split is also the honest one at
100 TB: per-doc scoring dominates cost and is embarrassingly parallel, while
dedup is a few exchanges over slim keys — re-running dedup on restart is
cheap, re-running the scrub cascade is not.

Flow (reference analog: App.tsx:176 persists per-document completion; at
cluster scale that becomes per-partition):
  1. label_stage_resumable: anti-join input crawl_dates against the
     manifest, process ONLY unfinished dates in deterministic batches, each
     batch appending to the stage-1 parquet table + recording its dates in
     the manifest AFTER the write succeeds (write-then-commit order: a kill
     between the two re-processes the batch — parquet re-append of the same
     rows is prevented by re-reading only manifest-committed dates).
  2. resume_pipeline: finish label_stage_resumable, then read back the
     manifest-committed slice of the stage table and run the global half.

A job killed at ANY point and restarted with the same arguments produces
byte-identical output to a single uninterrupted run (pytest-proven,
tests/test_pipeline_e2e.py::TestCheckpointResume)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_PIPELINE_CONFIG, PipelineConfig
from ..sources.io import remaining_partitions, write_manifest, write_output
from .pipeline import PipelineResult, finish_pipeline, label_stage

STAGE_TABLE = "stage1_labeled"


def label_stage_resumable(
    input_df: DataFrame,
    warehouse: str,
    cfg: PipelineConfig = DEFAULT_PIPELINE_CONFIG,
    batch_dates: int = 8,
    fail_after_batches: int | None = None,
    use_crawl_lang: bool = False,
    validate_keys: bool = False,
) -> int:
    """Run label_stage over every crawl_date partition NOT yet in the
    manifest, in sorted batches of `batch_dates` dates. Returns the number
    of batches processed this invocation. fail_after_batches injects a
    mid-job crash for the restart test.

    INPUT CONTRACT: (url, warc_ts) is the primary key. The restart path
    collapses exact re-appends on that key (read_stage), so two legitimate
    input rows sharing it would be collapsed too — pass validate_keys=True
    to fail fast on such input (one slim-key shuffle; off by default since
    at 100 TB the upstream WARC reader already guarantees it).
    use_crawl_lang forwards to label_stage so a resumed run labels with the
    SAME flag as the run it restarts."""
    spark = input_df.sparkSession
    if validate_keys:
        dup = (
            input_df.groupBy("url", "warc_ts").count()
            .filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                "input violates (url, warc_ts) primary-key contract: "
                f"duplicate key {dup[0]['url']!r} @ {dup[0]['warc_ts']}"
            )
    part_in = input_df.withColumn("crawl_date", F.to_date("warc_ts"))
    todo = remaining_partitions(part_in, spark, warehouse)
    # crawl_date cardinality is dimension-sized (days of crawl), safe to
    # enumerate on the driver; sorted -> deterministic batch boundaries
    dates = sorted(
        r["crawl_date"] for r in todo.select("crawl_date").distinct().collect()
    )
    batches = [
        dates[i : i + batch_dates] for i in range(0, len(dates), batch_dates)
    ]
    for bi, batch in enumerate(batches):
        if fail_after_batches is not None and bi >= fail_after_batches:
            raise RuntimeError(
                f"injected failure before batch {bi} ({len(batches) - bi} left)"
            )
        sub = part_in.filter(F.col("crawl_date").isin(batch)).drop("crawl_date")
        labeled = label_stage(sub, cfg, use_crawl_lang).withColumn(
            "crawl_date", F.to_date("warc_ts")
        )
        write_output(labeled, warehouse, STAGE_TABLE, mode="append")
        # commit AFTER the data write: the manifest is the source of truth
        write_manifest(
            spark.createDataFrame([(d,) for d in batch], "crawl_date date"),
            warehouse,
        )
    return len(batches)


def read_stage(spark: SparkSession, warehouse: str) -> DataFrame:
    """Manifest-committed slice of the stage table: a batch that wrote data
    but died before its manifest commit leaves orphan rows that the restart
    re-processes — the semi-join makes re-appended duplicates unreachable
    ONLY if the whole partition was uncommitted, so filter to committed
    dates and drop exact re-appends within them."""
    stage_path = os.path.join(warehouse, STAGE_TABLE)
    manifest_path = os.path.join(warehouse, "_manifest")
    if not os.path.isdir(stage_path) or not os.path.isdir(manifest_path):
        # zero batches processed (empty input) leaves neither path — name
        # the warehouse state instead of dying on a raw AnalysisException
        raise FileNotFoundError(
            f"warehouse {warehouse!r} has no committed label stage "
            f"(stage1_labeled exists: {os.path.isdir(stage_path)}, "
            f"_manifest exists: {os.path.isdir(manifest_path)}); "
            "the input had no partitions to label or the run never started"
        )
    stage = spark.read.parquet(stage_path)
    done = spark.read.parquet(manifest_path).select("crawl_date").distinct()
    committed = stage.join(F.broadcast(done), "crawl_date", "semi")
    # a kill between data-write and manifest-commit re-appends the batch on
    # restart; identity is (url, warc_ts), rows are deterministic, so
    # dropDuplicates restores exactly-once semantics
    return committed.dropDuplicates(["url", "warc_ts"])


def resume_pipeline(
    input_df: DataFrame,
    warehouse: str,
    cfg: PipelineConfig = DEFAULT_PIPELINE_CONFIG,
    batch_dates: int = 8,
    use_crawl_lang: bool = False,
) -> PipelineResult:
    """Complete (or restart) the flagship run: finish any unfinished label
    partitions, then run the corpus-global half over the checkpointed stage
    table. Idempotent — calling again after success is a no-op label pass
    plus a deterministic re-finish. use_crawl_lang forwards to label_stage
    so a resumed run reproduces the run_pipeline(use_crawl_lang=...) it
    restarts."""
    label_stage_resumable(
        input_df, warehouse, cfg, batch_dates, use_crawl_lang=use_crawl_lang
    )
    labeled = read_stage(input_df.sparkSession, warehouse)
    return finish_pipeline(labeled, cfg)
