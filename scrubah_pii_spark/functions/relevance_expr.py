"""Recency generation as a native column; the relevance score itself is the
pure kernel core.relevance.relevance_score, run inside the fused per-doc UDF
(operators/scrub_op.py)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def generation_from_ts(warc_ts: Column, current_year: int) -> Column:
    """Pipeline recency rule: years between crawl year and the (frozen)
    current year. Replaces the reference's filename-date parsing — webpages
    have warc_ts, not dated filenames (FIXTURES.md §1)."""
    return F.greatest(F.lit(0), F.lit(current_year) - F.year(warc_ts))
