"""Benchmark of the scrubah_pii_spark engine.

    python3 perfbench/run.py --workload pipeline_mixed --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. Prints a detail line (``# detail``,
JSON) and, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``, exactly the names BENCHMARK.json lists. Inputs, Spark's
scratch space and the event log live under ``.bench_build/perfbench`` in the
checkout; spans and details of each run are kept in its ``results``
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "scrubah_pii_spark")):
        print(f"perfbench: no scrubah_pii_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import stream, workloads

    runners = {"pipeline_mixed": workloads.run, "stream_drain": stream.run}
    if args.workload not in runners:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(runners)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    results = os.path.join(base, "results")
    for d in ("tmp", "local", "in"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # Spark's block manager, the JVM and the Python workers keep their
    # scratch files inside the checkout; workers import the package from it
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        out = runners[args.workload](args.workload, args.seed, args.seconds,
                                     bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out["spans"].write(os.path.join(results, f"{tag}.spans.json"))
    detail = dict(out["detail"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = {m["name"]: m["unit"]
                  for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        metrics = {k: {"value": float(v), "unit": listed.get(k)}
                   for k, v in sorted(out["layers"].items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in out["e2e"].items()}
    if set(metrics) != set(listed):
        print("perfbench: measured metrics differ from BENCHMARK.json: "
              f"{sorted(set(metrics) ^ set(listed))}", file=sys.stderr)
        return 3
    with open(os.path.join(results, f"{tag}.detail.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print("# detail " + json.dumps(detail, default=str), flush=True)
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
