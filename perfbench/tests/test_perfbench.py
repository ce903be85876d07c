"""The benchmark's own tests. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, host, sparklog, stream  # noqa: E402
from perfbench.trace import Span, covered, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNITS = (
    ("docs_per_s", "docs/s"), ("_us_per_kb", "us/KB"), ("_ms", "ms"),
    ("_mb", "MB"), ("_s", "s"), ("_share", "ratio"), ("_ratio", "ratio"),
    ("_per_doc", "ratio"), ("task_skew", "ratio"),
)


def unit_of(name: str) -> str:
    """The unit a per-layer metric's name implies."""
    if "bytes" in name:
        return "bytes"
    for suffix, unit in UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_generator_is_byte_deterministic_per_seed(tmp_path):
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        p = str(tmp_path / f"c{i}" / "docs.parquet")
        corpus.write_rows(corpus.mixed_rows(seed, 60), p)
        digests.append(_digest(p))
    assert digests[0] == digests[1] != digests[2]


def test_stream_backlog_is_byte_deterministic_per_seed(tmp_path):
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        d = tmp_path / f"s{i}"
        d.mkdir()
        stream.stage(corpus.mixed_rows(seed, 300), seed, str(d))
        digests.append([_digest(str(p)) for p in sorted(d.iterdir())])
    assert len(digests[0]) == stream.FILES + 1
    assert digests[0] == digests[1] != digests[2]


def test_snapshots_keep_year_and_duplicate_gap():
    rows = corpus.mixed_rows(3, 200)
    dates = {r["warc_ts"].date() for r in rows}
    years = {d.year for d in dates}
    assert len(dates) <= len(years) * corpus.SNAPSHOT_DAYS
    assert years == {2023, 2024, 2025}


def test_stream_files_keep_every_row_in_order_with_late_straggler():
    rows = corpus.mixed_rows(4, 300)
    files = corpus.stream_files(rows, n_files=10, late_share=0.05, seed=4)
    assert len(files) == 11
    assert sorted(r["url"] for f in files for r in f) == sorted(r["url"] for r in rows)
    on_time = [r["warc_ts"] for f in files[:-1] for r in f]
    assert on_time == sorted(on_time)
    late = files[-1]
    assert 0 < len(late) < len(rows) // 10
    assert min(r["warc_ts"] for r in late) < max(on_time)


def test_funnel_conservation_arithmetic():
    ok = {"docs_in": 100, "discarded": 30, "exact_dup": 10, "near_dup": 5,
          "docs_out": 55}
    assert checks.funnel_conserves(ok)
    assert not checks.funnel_conserves(dict(ok, docs_out=54))
    assert not checks.funnel_conserves(dict(ok, near_dup=6))


def test_keep_drop_f1_counts_missing_docs_as_drops():
    expect = {"a": {"recommendation": "keep"}, "b": {"recommendation": "discard"},
              "c": {"recommendation": "demote"}}
    got = {"a": {"recommendation": "keep"}, "b": {"recommendation": "discard"}}
    assert checks.keep_drop_f1(expect, got) == pytest.approx(2 / 3)
    assert checks.compare_labels(expect, got) == ["c"]


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units():
    spec = _bench_json()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64, m
        assert m["unit"] and re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    for m in spec["per_layer"]:
        assert unit_of(m["name"]) == m["unit"], m["name"]
    assert {"setup_s", "docs_per_s"} <= {m["name"] for m in spec["end_to_end"]}
    assert {w["name"] for w in spec["workloads"]} == {"pipeline_mixed", "stream_drain"}


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_nested_children():
    spans = [_span(0, 0, 10), _span(1, 1, 4, 0), _span(2, 2, 3, 1), _span(3, 6, 8, 0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3 - 2)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(2)


def test_self_time_overlapping_children_counted_once():
    spans = [_span(0, 0, 10), _span(1, 1, 5, 0), _span(2, 3, 7, 0),
             _span(3, 9, 12, 0)]  # the last child runs past its parent
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 6 - 1)
    assert covered([(1, 5), (3, 7)], 0, 10) == pytest.approx(6)
    assert covered([], 0, 10) == 0


def _node(name, *children, key=None):
    return {"name": name, "key": key, "children": list(children)}


def test_plan_node_counts_count_a_cached_subtree_once():
    cached = _node("InMemoryRelation", _node("ArrowEvalPython", _node(
        "Exchange", _node("Scan"))), key=7)
    plan = _node(
        "Window", _node("Sort", _node("Exchange", _node(
            "SortMergeJoin",
            _node("InMemoryTableScan", cached),
            _node("Sort", _node("InMemoryTableScan", cached))))))
    assert sparklog.plan_node_counts(plan) == {
        "arrow_eval_python": 1, "exchange": 2, "window": 1, "sort": 2}


def test_tail_needs_ten_samples_beyond():
    assert stream.tail(list(range(10))) is None
    assert stream.tail(list(range(20))) == (9, 50.0, 20)


def test_kernel_run_needs_no_extract_for_rows_with_text():
    rows = corpus.mixed_rows(1, 12)
    kr = checks.expected_labels(rows)
    assert all(r["text"] is not None for r in rows)
    assert kr.need_s == pytest.approx(sum(kr.spent.values()) - kr.spent["extract"])


def test_pinned_generation_changes_only_recency_labels():
    rows = corpus.mixed_rows(2, 80)
    derived = checks.expected_labels(rows).expect
    pinned = checks.expected_labels(rows, generation=2).expect
    for url, e in derived.items():
        same = {k for k in e if e[k] == pinned[url][k]}
        assert set(e) - same <= {"relevance_score", "recommendation"}


def test_steal_share_from_cpu_ticks():
    start = [100, 0, 10, 500, 0, 0, 0, 40]
    end = [160, 0, 20, 520, 0, 0, 0, 50]
    assert host.steal_share(start, end) == pytest.approx(10 / 100)
    assert host.steal_share(start, start) == 0.0
    assert len(host.cpu_ticks()) == 8
