"""``stream_drain``: ``streaming.stream.start_stream`` over a staged backlog.

The backlog is ``FILES`` files in crawl-time order, one trigger's worth for
the file source, then one straggler file with a seeded ``LATE_SHARE`` of rows
that were crawled early but land last, out of order, in the second
micro-batch. One query drains the backlog in a closed loop
(``processAllAvailable``): each micro-batch starts after the previous one
commits.

Labels are checked per doc against the pure kernels twice. With batch
semantics (generation derived from the crawl year) every difference counts
as a failed doc, as the streaming path is meant to equal the batch path.
With the streaming path's own pinned generation every sampled doc must
match, or the output is not correct."""

from __future__ import annotations

import itertools
import os
import statistics
import time

from scrubah_pii_spark.sources.io import write_output
from scrubah_pii_spark.streaming.stream import start_stream

from . import checks, corpus, host, sparklog
from .workloads import SAMPLE_BYTES, SETUPS, Bench, result, shared_layers

N_BASE = 1250        # generate_rows base docs; ~8% duplicates are added
FILES = 16           # start_stream's file source reads 16 files per trigger
LATE_SHARE = 0.02
STREAM_GENERATION = 2  # streaming_transform pins generation to this
STREAM_COLS = ("lang_pred", "quality_score", "gates_pass", "scrubbed_text",
               "pii_count", "relevance_score", "recommendation")


def tail(values: list, min_beyond: int = 10):
    """(value, percentile, n): the highest percentile that still has at least
    ``min_beyond`` samples above it, or None when there are too few."""
    xs = sorted(values)
    n = len(xs)
    if n <= min_beyond:
        return None
    k = n - min_beyond - 1
    return xs[k], 100.0 * (k + 1) / n, n


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return round(a, 6) == round(b, 6)
    return a == b


def differing(expect: dict, got: dict) -> list:
    """Urls present in ``got`` whose stream labels differ from ``expect``."""
    return sorted(u for u, e in expect.items() if u in got
                  and not all(_same(got[u][k], e[k]) for k in STREAM_COLS))


def stage(rows: list, seed: int, in_dir: str) -> set:
    """Write the backlog; returns the urls of the straggler file."""
    files = corpus.stream_files(rows, FILES, LATE_SHARE, seed)
    t0 = time.time() - len(files)
    for i, f in enumerate(files):
        p = os.path.join(in_dir, f"part-{i:05d}.parquet")
        corpus.write_rows(f, p)
        os.utime(p, (t0 + i, t0 + i))  # the file source lists by mtime
    return {r["url"] for r in files[-1]}


def drain(b: Bench, in_dir: str, out_dir: str, ckpt: str, plan: bool = False):
    """Start the stream, drain the backlog, stop. Returns the wall time, the
    progress of every micro-batch and, if asked, the last batch's plan."""
    t0 = time.perf_counter()
    with b.tracer.span("streaming.start_stream"):
        q = start_stream(b.spark, in_dir, out_dir, ckpt)
    try:
        with b.tracer.span("streaming.drain"):
            q.processAllAvailable()
        progress = q.recentProgress
        tree = sparklog.java_plan_tree(
            q._jsq.streamingQuery().lastExecution().executedPlan(),
            b.spark._jvm) if plan else None
    finally:
        q.stop()
    return time.perf_counter() - t0, progress, tree


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    b = Bench(workload, seed, seconds, work)
    stamp_start = host.stamp()
    rows = corpus.mixed_rows(seed, N_BASE)
    b.make_inputs(rows)
    in_dir = os.path.join(work, "in", "stream")
    os.makedirs(in_dir)
    late_urls = stage(rows, seed, in_dir)
    drains = itertools.count()

    def fresh():
        out = os.path.join(work, f"out{next(drains)}")
        return out, out + ".ckpt"

    e2e = layers = None
    detail = {"workload": workload, "seed": seed, "docs": len(rows),
              "files": FILES + 1, "late_rows_staged": len(late_urls),
              "cores": b.cores}
    try:
        with host.MemorySampler() as mem:
            if trace:
                # three set-ups, as in an untraced run, the last with the
                # event log on, then the traced drain
                phases: dict = {}
                for i in range(SETUPS):
                    b.setup(b.cores, b.event_dir() if i == SETUPS - 1 else None)
                out_dir, ckpt = fresh()
                with b.phase(phases, "job"):
                    wall, progress, tree = drain(b, in_dir, out_dir, ckpt, plan=True)
            else:
                setups = [b.setup(b.cores) for _ in range(SETUPS)]
                walls = []
                t_end = time.perf_counter() + seconds
                while not walls or time.perf_counter() < t_end:
                    out_dir, ckpt = fresh()
                    wall, progress, _ = drain(b, in_dir, out_dir, ckpt)
                    walls.append(wall)
            out = b.spark.read.parquet(out_dir)
            got = {r["url"]: r.asDict() for r in out.select("url", *STREAM_COLS).collect()}
            leaks = out.filter("pii_leak").count()
            if trace:
                with b.phase(phases, "sources.scan") as scan:
                    b.spark.read.parquet(in_dir).write.format("noop").mode("overwrite").save()
                landed = out.persist()
                landed.count()
                with b.phase(phases, "sources.write") as write:
                    write_output(landed, os.path.join(work, "rewrite"), "output")
                landed.unpersist()
                stages = b.stop_and_parse(phases)
    finally:
        b.shutdown()

    picked = checks.sample(rows, SAMPLE_BYTES, seed)
    batch = checks.expected_labels(picked)
    late = sum(s.get("numRowsDroppedByWatermark", 0)
               for p in progress for s in p.get("stateOperators", []))
    lost = sorted(u for u in batch.expect if u not in got and u not in late_urls)
    vs_batch = differing(batch.expect, got)
    own = checks.expected_labels([r for r in picked if r["url"] in set(vs_batch)],
                                 generation=STREAM_GENERATION)
    vs_own = differing(own.expect, got)
    conserves = len(rows) == len(got) + late
    checked = {
        "attempted": len(batch.expect) + 2,
        "failed": len(set(vs_batch) | set(lost)) + (leaks > 0) + (not conserves),
        "correct": not vs_own and not lost and leaks == 0 and conserves,
    }
    batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    t = tail(batch_s)
    detail.update(
        batch_s=batch_s,
        batch_s_p50=statistics.median(batch_s),
        batch_s_tail=None if t is None else
            {"value": t[0], "percentile": t[1], "n": t[2]},
        checks={"docs_checked": len(batch.expect),
                "docs_differ_from_batch": len(vs_batch),
                "docs_differ_from_stream_semantics": len(vs_own),
                "docs_lost": len(lost), "late_dropped": late,
                "leak_rows": leaks, "conserves": conserves,
                "failed_urls": vs_batch[:5]},
        peak_pss_mb=mem.peak / 1e6, peak_pss_split_mb=mem.peak_split,
    )
    if not trace:
        detail.update(setup_runs_s=setups, drain_walls_s=walls)
        e2e = {
            "setup_s": (statistics.median(setups), "s"),
            "docs_per_s": (len(rows) * len(walls) / sum(walls), "docs/s"),
            "text_mb_per_s": (b.text_mb * len(walls) / sum(walls), "MB/s"),
        }
        return result(b, checked, e2e, None, detail, stamp_start)

    recs = list(got.values())
    funnel = {
        "docs_in": len(rows),
        "gates_pass": sum(bool(r["gates_pass"]) for r in recs),
        "discarded": sum(r["recommendation"] == "discard" for r in recs),
        "leak_rows": leaks,
        "docs_out": len(recs),
    }
    layers = shared_layers(b, batch, len(picked), funnel, stages,
                           sparklog.plan_node_counts(tree), out_dir)
    layers["sources.scan_s"] = scan.wall
    layers["sources.write_s"] = write.wall
    layers["trace.docs_per_s"] = len(rows) / wall
    layers["host.peak_pss_mb"] = mem.peak / 1e6
    last = progress[-1]
    state = (last.get("stateOperators") or [{}])[0]
    durations = [p["durationMs"] for p in progress]
    detail["layers_this_workload"] = {
        "stream.batches": len(progress),
        "stream.late_dropped": late,
        "stream.state_rows": state.get("numRowsTotal", 0),
        "stream.state_bytes": state.get("memoryUsedBytes", 0),
        "stream.add_batch_s": sum(d.get("addBatch", 0) for d in durations) / 1e3,
        "stream.planning_s": sum(d.get("queryPlanning", 0) for d in durations) / 1e3,
        "stream.wal_commit_s": sum(d.get("walCommit", 0) for d in durations) / 1e3,
    }
    detail["funnel"] = funnel
    return result(b, checked, None, layers, detail, stamp_start)
