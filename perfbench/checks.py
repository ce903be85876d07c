"""Correctness checks and single-thread kernel timings over a doc sample.

The expected labels come from the pure ``core`` kernels, which the test
suite pins to the JavaScript reference harnesses. They follow the fused
per-doc UDF: gates first, then scrub, simhash and relevance on docs that
pass, with generation derived from the crawl year unless the caller pins it.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

from scrubah_pii_spark.config import DEFAULT_PIPELINE_CONFIG as CFG
from scrubah_pii_spark.core import hashing, langid, perplexity, quality, relevance, scrub
from scrubah_pii_spark.core.extract import extract_text

KERNELS = ("extract", "quality", "langid", "perplexity", "repetition",
           "scrub", "simhash", "relevance")
LABEL_COLS = ("url", "gates_pass", "lang_pred", "quality_score",
              "scrubbed_text", "replacements", "pii_count", "simhash",
              "relevance_score", "recommendation")


def sample(rows: list, text_bytes: int, seed: int) -> list:
    """Rows in a seeded order until their text reaches ``text_bytes``."""
    order = random.Random(seed ^ 0xC0FFEE).sample(rows, len(rows))
    picked, total = [], 0
    for r in order:
        if total >= text_bytes:
            break
        picked.append(r)
        total += len(r["text"].encode())
    return picked


@dataclass
class KernelRun:
    """Expected labels of a doc sample and what computing them cost."""

    expect: dict          # url -> expected label dict
    spent: dict           # kernel name -> seconds, single thread
    scrubbed_bytes: int   # text bytes that reached scrub
    need_s: float         # seconds of the kernels the label UDF runs


def expected_labels(rows: list, generation: int | None = None) -> KernelRun:
    """Labels of ``rows`` from the pure kernels. ``generation`` pins the
    recency generation instead of deriving it from the crawl year.

    Every kernel is timed on every doc; ``need_s`` counts only the calls the
    fused label UDF makes: it extracts text from html only when the row has
    no text, and runs scrub, simhash and relevance only on docs that pass
    the gates."""
    spent = dict.fromkeys(KERNELS, 0.0)
    scrubbed_bytes = 0
    need_s = 0.0
    keep_langs = CFG.langid.keep_langs
    min_q = CFG.quality.ocr_min_quality
    year = CFG.relevance.current_year

    def timed(name, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        spent[name] += time.perf_counter() - t0
        return out

    expect = {}
    for r in rows:
        before = sum(spent.values())
        extracted = timed("extract", extract_text, r["html"])
        if r["text"] is not None:
            before = sum(spent.values())  # the UDF does not extract this doc
        t = r["text"] if r["text"] is not None else extracted
        t = t or ""
        q = timed("quality", quality.simple_quality_score, t, min_q)
        lang = timed("langid", langid.heuristic_langid, t)[0]
        timed("perplexity", perplexity.log_perplexity, t)
        timed("repetition", quality.repetition_ratio, t)
        e = {"gates_pass": lang in keep_langs and q.score >= min_q,
             "lang_pred": lang, "quality_score": q.score}
        if lang in keep_langs and q.passed:
            sc = timed("scrub", scrub.scrub_text_production, t)
            scrubbed_bytes += len(t.encode())
            gen = (max(0, year - r["warc_ts"].year) if generation is None
                   else generation)
            rel = timed("relevance", relevance.relevance_score, sc.text, "",
                        year, gen)
            e.update(scrubbed_text=sc.text, replacements=sc.replacements,
                     pii_count=sc.count,
                     simhash=timed("simhash", hashing.simhash_int, sc.text),
                     relevance_score=rel.score, recommendation=rel.recommendation)
        else:
            e.update(scrubbed_text=None, replacements=None, pii_count=None,
                     simhash=None, relevance_score=None, recommendation="discard")
        expect[r["url"]] = e
        need_s += sum(spent.values()) - before
    return KernelRun(expect, spent, scrubbed_bytes, need_s)


def compare_labels(expect: dict, got: dict) -> list:
    """Urls whose Spark labels differ from the kernel labels, or are missing."""
    bad = []
    for url, e in expect.items():
        g = got.get(url)
        if g is None or any(g[k] != v for k, v in e.items()):
            bad.append(url)
    return sorted(bad)


def keep_drop_f1(expect: dict, got: dict) -> float:
    tp = fp = fn = 0
    for url, e in expect.items():
        want = e["recommendation"] != "discard"
        have = url in got and got[url]["recommendation"] != "discard"
        tp += want and have
        fp += have and not want
        fn += want and not have
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


def funnel_conserves(f: dict) -> bool:
    """Every input doc is either dropped at exactly one step or output."""
    return f["docs_in"] == (f["discarded"] + f["exact_dup"] + f["near_dup"]
                            + f["docs_out"])
