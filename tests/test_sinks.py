"""Partitioned sinks: the batch table writer (``sources.io.write_output``) and
the stream's parquet sink (``streaming.stream.start_stream``). Both rebalance
rows on crawl_date before the write, so a date lands in one writer task: one
file per date for a batch write, at most one per date per micro-batch for the
stream. The rows must come back unchanged."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
from collections import Counter

from pyspark.sql import functions as F


def _date_files(table_dir):
    """{crawl_date directory name: number of parquet files in it}."""
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(table_dir, "crawl_date=*"))
    }


def _files_per_batch(out_dir):
    """{micro-batch id: Counter of files per crawl_date}, read from the file
    sink's own commit log (one ``_spark_metadata/<id>`` file per batch)."""
    meta = os.path.join(out_dir, "_spark_metadata")
    batches = {}
    for name in os.listdir(meta):
        if not name.isdigit():
            continue
        with open(os.path.join(meta, name)) as f:
            entries = [json.loads(line) for line in f.read().splitlines()[1:]]
        batches[int(name)] = Counter(
            p.split("/")[-2] for p in (e["path"] for e in entries)
        )
    return batches


class TestWriteOutput:
    def test_one_file_per_date_rows_unchanged(self, spark, tmp_path):
        from scrubah_pii_spark.sources.io import (
            read_table, with_partition_cols, write_output,
        )

        rows = [
            (f"http://h{i % 3}.com/{i}", dt.datetime(2025, 6, 1 + i % 5, i % 24),
             f"doc {i}")
            for i in range(40)
        ]
        df = with_partition_cols(
            spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
            .repartition(4)
        )
        assert df.rdd.getNumPartitions() == 4  # every task holds every date
        wh = str(tmp_path / "wh")
        write_output(df, wh, "t")

        assert _date_files(os.path.join(wh, "t")) == {
            f"crawl_date=2025-06-0{d}": 1 for d in range(1, 6)
        }
        cols = ["url", "warc_ts", "text", "crawl_date", "url_bucket"]
        back = read_table(spark, wh, "t").select(cols).collect()
        assert sorted(map(tuple, back)) == sorted(map(tuple, df.select(cols).collect()))


class TestStreamSink:
    def test_drained_rows_equal_batch_labels(self, spark, tmp_path):
        """start_stream end to end over a staged parquet directory, two
        micro-batches: the landed rows equal label_stage plus the leak check
        on the same rows, nothing leaks, and no micro-batch writes a date
        twice."""
        from scrubah_pii_spark.operators.scrub_op import leak_check_expr
        from scrubah_pii_spark.plans.pipeline import label_stage
        from scrubah_pii_spark.sources.synth import generate_rows
        from scrubah_pii_spark.streaming.stream import WEBPAGES_SCHEMA, start_stream

        synth = generate_rows(60)[:60]
        # first file: June 1-3 up to noon; second file: later on June 3 and
        # June 4, so nothing in it falls behind the one-hour watermark
        stamps = [dt.datetime(2025, 6, 1 + i % 3, i % 12) for i in range(40)] + [
            dt.datetime(2025, 6, 3 + i % 2, 13 + i % 10) for i in range(20)
        ]
        rows = [
            (r["url"], ts, r["html"] if i % 3 == 0 else None,
             None if i % 3 == 0 else r["text"], r["lang"])
            for i, (r, ts) in enumerate(zip(synth, stamps))
        ]
        df = spark.createDataFrame(rows, WEBPAGES_SCHEMA)
        inp = str(tmp_path / "in")
        out = str(tmp_path / "out")

        def stage(part, name):
            spark.createDataFrame(part, WEBPAGES_SCHEMA).write.parquet(
                os.path.join(inp, name)
            )

        stage(rows[:40], "b0")
        q = start_stream(spark, inp + "/*", out, str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
            stage(rows[40:], "b1")
            q.processAllAvailable()
        finally:
            q.stop()

        landed = spark.read.parquet(out)
        expect = (
            label_stage(df)
            .withColumn("pii_leak", F.coalesce(
                leak_check_expr(F.col("scrubbed_text")), F.lit(False)))
            .withColumn("crawl_date", F.to_date("warc_ts"))
        )
        assert sorted(landed.columns) == sorted(expect.columns)
        got = {r["url"]: r.asDict() for r in landed.select(expect.columns).collect()}
        want = {r["url"]: r.asDict() for r in expect.collect()}
        assert got == want
        assert not any(r["pii_leak"] for r in got.values())

        batches = _files_per_batch(out)
        written = {b: c for b, c in batches.items() if c}
        assert len(written) == 2, batches
        assert all(n == 1 for c in written.values() for n in c.values()), batches
