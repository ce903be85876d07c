"""Seeded inputs for the benchmark workloads.

Every corpus is built from ``scrubah_pii_spark.sources.synth`` and nothing
else, so the program under test only ever sees the parquet files written
here. The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import random

from scrubah_pii_spark.sources import synth

SNAPSHOT_DAYS = 14


def crawl_snapshots(rows: list) -> list:
    """Fold each row's crawl time into a two-week snapshot of its own year,
    the shape of a monthly web-crawl release: ``generate_rows`` spreads
    timestamps over three years, about 1,100 distinct crawl dates, and the
    output is partitioned by crawl date. The fold keeps the year (so the
    recency generation mix is unchanged) and keeps the hours between a doc
    and its injected duplicate except where the fold wraps."""
    span = dt.timedelta(days=SNAPSHOT_DAYS)
    for r in rows:
        ts = r["warc_ts"]
        year_start = dt.datetime(ts.year, 1, 1)
        r["warc_ts"] = dt.datetime(ts.year, 6, 1) + (ts - year_start) % span
    return rows


def mixed_rows(seed: int, n_base: int) -> list:
    """``generate_rows`` with its default class mix and duplicate share,
    crawled as snapshots."""
    return crawl_snapshots(synth.generate_rows(n_base, seed=seed))


def stream_files(rows: list, n_files: int, late_share: float, seed: int) -> list:
    """A crawl backlog as it lands: ``n_files`` files in crawl-time order,
    then one straggler file holding a seeded ``late_share`` of the rows,
    which were crawled early but arrive last."""
    rng = random.Random(seed ^ 0x57AE)
    ordered = sorted(rows, key=lambda r: (r["warc_ts"], r["url"]))
    late = [r for r in ordered if rng.random() < late_share]
    moved = {id(r) for r in late}
    on_time = [r for r in ordered if id(r) not in moved]
    per = -(-len(on_time) // n_files)
    return [on_time[i * per:(i + 1) * per] for i in range(n_files)] + [late]


def write_rows(rows: list, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    synth.write_parquet(rows, path, row_group_size=1024)


def text_bytes(rows: list) -> int:
    return sum(len(r["text"].encode()) for r in rows)
