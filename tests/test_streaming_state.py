"""Custom stateful streaming operator (applyInPandasWithState): per-host
cross-micro-batch exact dedup. Verifies state survives between micro-batches
— the semantics watermarked dropDuplicates cannot give."""

from __future__ import annotations

import os

import pytest

from scrubah_pii_spark.streaming.stream import stateful_host_dedup


@pytest.fixture()
def stream_dirs(tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    return str(inp), str(tmp_path / "ckpt")


def _write_batch(spark, inp, rows, name):
    df = spark.createDataFrame(
        rows, "url string, host string, content_hash string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(inp, name))


class TestStatefulHostDedup:
    def test_cross_batch_duplicates_flagged(self, spark, stream_dirs):
        inp, ckpt = stream_dirs
        _write_batch(spark, inp, [
            ("u1", "a.com", "h1"), ("u2", "a.com", "h2"), ("u3", "b.com", "h1"),
        ], "b0")

        stream = (
            spark.readStream
            .schema("url string, host string, content_hash string")
            .option("maxFilesPerTrigger", 1)
            .parquet(inp + "/*")
        )
        out = stateful_host_dedup(stream)
        q = (
            out.writeStream.format("memory").queryName("dedup_state")
            .option("checkpointLocation", ckpt)
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            first = {
                r["url"]: r["is_cross_batch_dup"]
                for r in spark.sql("SELECT * FROM dedup_state").collect()
            }
            # h1 on a.com and h1 on b.com are DIFFERENT state groups
            assert first == {"u1": False, "u2": False, "u3": False}

            # batch 2: re-crawl u1's content on the same host + a new doc
            _write_batch(spark, inp, [
                ("u4", "a.com", "h1"), ("u5", "a.com", "h9"),
            ], "b1")
            q.processAllAvailable()
            rows = {
                r["url"]: r["is_cross_batch_dup"]
                for r in spark.sql("SELECT * FROM dedup_state").collect()
            }
            assert rows["u4"] is True    # seen in micro-batch 1 state
            assert rows["u5"] is False
        finally:
            q.stop()


class TestStreamingBatchEquivalence:
    """Round-4 verdict item 7: the SAME corpus through the Structured
    Streaming path (streaming_transform: watermarked url dedup + label_stage)
    and the batch path (label_stage) must yield identical per-document
    labels, generation included, over every crawl year. Html-only rows and a
    null/null row make the fused extraction run under streaming too."""

    def test_same_corpus_same_labels(self, spark, tmp_path):
        from scrubah_pii_spark.plans.pipeline import label_stage
        from scrubah_pii_spark.sources.synth import generate_rows
        from scrubah_pii_spark.streaming.stream import streaming_transform

        synth = generate_rows(120)
        rows = [
            # every third row arrives as html only: text comes from extraction
            (r["url"], r["warc_ts"], r["html"], None, r["lang"]) if i % 3 == 0
            else (r["url"], r["warc_ts"], None, r["text"], r["lang"])
            for i, r in enumerate(synth)
        ]
        rows.append(("http://null.example/0", synth[0]["warc_ts"], None, None, None))
        df = spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        assert len({r[1].year for r in rows}) > 1, "fixture must span crawl years"

        inp = str(tmp_path / "in")
        df.write.mode("overwrite").parquet(inp)

        stream = (
            spark.readStream
            .schema(
                "url string, warc_ts timestamp, html binary, "
                "text string, lang string"
            )
            .option("maxFilesPerTrigger", 4)  # force multiple micro-batches
            .parquet(inp)
        )
        q = (
            streaming_transform(stream)
            .writeStream.format("memory").queryName("sbe_out")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            streamed = spark.sql("SELECT * FROM sbe_out").collect()
        finally:
            q.stop()

        batch = label_stage(df).collect()
        assert len(streamed) == len(batch) == df.count()

        def key(r):
            rd = lambda v: None if v is None else round(v, 6)
            return (
                r["generation"], r["lang_pred"], rd(r["quality_score"]),
                r["gates_pass"], r["scrubbed_text"], r["pii_count"],
                rd(r["relevance_score"]), r["recommendation"],
            )

        a = {r["url"]: key(r) for r in streamed}
        b = {r["url"]: key(r) for r in batch}
        assert a == b
