"""The batch workload, ``pipeline_mixed``, and what both workloads share.

A run builds its inputs from the seed, sets the session up the way
``bench.py`` does (``local[nproc]``, shuffle partitions = nproc) three times,
warms the job's plan shapes with one untimed job over a tiny file, measures
warm jobs for the given number of seconds with tracing off, and then checks
the output of the last job.

``--trace 1`` runs the job at ``local[1]`` on a quarter of the corpus, then
untraced and again in a session with the Spark event log on, with spans
around every call into a layer, followed by one probe per layer; it reports
the per-layer metrics and the tracing overhead.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time

from pyspark.sql import functions as F

from scrubah_pii_spark.functions.hashing_expr import content_hash_expr
from scrubah_pii_spark.operators.dedup import dedup_verdicts_fused
from scrubah_pii_spark.plans.pipeline import finish_pipeline, label_stage, run_pipeline
from scrubah_pii_spark.session import build_session
from scrubah_pii_spark.sources.io import write_output

from . import checks, corpus, host, sparklog
from .trace import Tracer

SETUPS = 3              # session set-ups per untraced run; setup_s is their median
N_BASE = 2500           # generate_rows base docs; ~8% duplicates are added
SAMPLE_BYTES = 128_000  # text in the seeded per-doc check and kernel sample
MIN_F1 = 0.99
STAGE_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "scheduler_delay_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "failed_tasks", "task_skew")
UDF_KEYS = ("python_total_s", "python_init_s", "bytes_sent", "bytes_received")


class Bench:
    """One benchmark run: its inputs, its session and what it measured."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}")
        self.spark = None

    # -- session -------------------------------------------------------
    def _conf(self, event_dir: str | None) -> dict:
        conf = {
            # keep the JVM's scratch files (and its perf-data file) out of
            # the shared temp directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self, cores: int, event_dir: str | None = None) -> float:
        """Build the session and run one warm-up action, a label stage over
        a tiny file on every core, which starts the Python workers and
        imports the package in them. Returns the seconds both took."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.build"):
            self.spark = build_session(
                app_name="perfbench", master=f"local[{cores}]",
                shuffle_partitions=cores, extra_conf=self._conf(event_dir),
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("session.warmup"):
            tiny = self.spark.read.parquet(self.warmup_path).repartition(cores)
            label_stage(tiny).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def session_layers(self) -> dict:
        """Median build and warm-up seconds over every set-up of the run."""
        return {
            f"session.{k}_s": statistics.median(
                s.end - s.start for s in self.tracer.spans
                if s.name == f"session.{k}")
            for k in ("build", "warmup")
        }

    def shutdown(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def event_dir(self) -> str:
        d = os.path.join(self.work, "events")
        os.makedirs(d, exist_ok=True)
        return d

    def stop_and_parse(self, phases: dict) -> dict:
        """Stop the traced session (which closes its event log) and return
        the event log's metrics by phase."""
        self.spark.stop()
        self.spark = None
        d = self.event_dir()
        (log,) = [os.path.join(d, f) for f in os.listdir(d)]
        return sparklog.parse_event_log(log, phases)

    # -- inputs --------------------------------------------------------
    def make_inputs(self, rows: list) -> None:
        self.rows = rows
        self.n_docs = len(rows)
        self.text_mb = corpus.text_bytes(rows) / 1e6
        self.input_path = os.path.join(self.work, "in", "docs.parquet")
        corpus.write_rows(rows, self.input_path)
        self.warmup_path = os.path.join(self.work, "in", "warmup.parquet")
        corpus.write_rows(rows[:8], self.warmup_path)
        self.quarter_path = os.path.join(self.work, "in", "quarter.parquet")
        corpus.write_rows(rows[: len(rows) // 4], self.quarter_path)

    # -- the job -------------------------------------------------------
    def job(self, input_path: str, out_dir: str):
        """read -> run_pipeline -> write output and metrics tables."""
        t0 = time.perf_counter()
        with self.tracer.span("job"):
            df = self.spark.read.parquet(input_path)
            with self.tracer.span("plans.run_pipeline"):
                res = run_pipeline(df)
            with self.tracer.span("sources.write_output"):
                write_output(res.output, out_dir, "output")
            with self.tracer.span("sources.write_output"):
                write_output(res.metrics, out_dir, "metrics")
        return res, time.perf_counter() - t0

    def warm_job(self) -> None:
        """One untimed job over the tiny file: the first job of a JVM pays
        code generation and JIT warm-up for every plan shape of the job."""
        res, _ = self.job(self.warmup_path, os.path.join(self.work, "warm"))
        res.labeled.unpersist()

    def window(self, input_path: str):
        """Warm jobs back to back until ``seconds`` have passed, at least
        one. Returns the last result and every job's wall time."""
        walls, res = [], None
        t_end = time.perf_counter() + self.seconds
        while not walls or time.perf_counter() < t_end:
            if res is not None:
                res.labeled.unpersist()
            res, wall = self.job(input_path, self.out_dir)
            walls.append(wall)
        return res, walls

    # -- correctness ---------------------------------------------------
    def verify(self, res) -> dict:
        """Per-doc kernel parity and F1 on a seeded sample; leak rows and
        funnel conservation over the whole output. Returns the funnel, the
        check tallies and the sample's kernel run."""
        spark = self.spark
        picked = checks.sample(self.rows, SAMPLE_BYTES, self.seed)
        with self.tracer.span("verify.kernels"):
            kr = checks.expected_labels(picked)
        urls = list(kr.expect)
        got = {
            r["url"]: r.asDict()
            for r in res.labeled.filter(F.col("url").isin(urls))
            .select(*checks.LABEL_COLS).collect()
        }
        bad_docs = checks.compare_labels(kr.expect, got)
        f1 = checks.keep_drop_f1(kr.expect, got)

        labeled = res.labeled
        out = spark.read.parquet(os.path.join(self.out_dir, "output")).agg(
            F.count("*").alias("rows"),
            F.sum(F.col("pii_leak").cast("int")).alias("leaks"),
        ).first()
        metrics = spark.read.parquet(os.path.join(self.out_dir, "metrics"))
        counts = labeled.agg(
            F.count("*").alias("docs_in"),
            F.sum(F.col("gates_pass").cast("int")).alias("gates_pass"),
            F.sum((F.col("recommendation") == "discard").cast("int")).alias("discarded"),
        ).first()
        verdicts = dedup_verdicts_fused(self._slim(labeled))
        v = verdicts.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_near_dup").cast("int")).alias("near"),
        ).first()
        candidates = counts["docs_in"] - counts["discarded"]
        funnel = {
            "docs_in": counts["docs_in"],
            "gates_pass": counts["gates_pass"],
            "discarded": counts["discarded"],
            "exact_dup": candidates - v["n"],
            "near_dup": v["near"] or 0,
            "leak_rows": out["leaks"] or 0,
            "docs_out": out["rows"],
        }
        metrics_docs = metrics.agg(F.sum("docs_in")).first()[0]
        tally = {
            "docs_checked": len(kr.expect),
            "docs_failed": len(bad_docs),
            "f1": f1,
            "f1_ok": f1 >= MIN_F1,
            "no_leaks": funnel["leak_rows"] == 0,
            "funnel_conserves": checks.funnel_conserves(funnel)
                and funnel["docs_in"] == self.n_docs == metrics_docs,
            "failed_urls": bad_docs[:5],
        }
        failed = tally["docs_failed"] + sum(
            not tally[k] for k in ("f1_ok", "no_leaks", "funnel_conserves"))
        return {"funnel": funnel, "tally": tally, "kernels": kr,
                "sample_docs": len(picked), "attempted": len(kr.expect) + 3,
                "failed": failed}

    @staticmethod
    def _slim(labeled):
        """The dedup projection finish_pipeline builds from its candidates."""
        return labeled.filter(F.col("recommendation") != "discard").select(
            "url", "warc_ts", "doc_type", "simhash",
            content_hash_expr(F.col("scrubbed_text")).alias("content_hash"),
        )

    def phase(self, phases: dict, name: str):
        return _Phase(self.tracer, phases, name)

    # -- traced probes -------------------------------------------------
    def probe_layers(self, phases: dict, labeled) -> dict:
        """One call per layer, each in its own wall-clock phase so the event
        log's stages can be credited to it. ``labeled`` is a persisted label
        frame of the input; it is released before the label probe, which
        would otherwise read it from the cache."""
        spark = self.spark
        found = {}
        with self.phase(phases, "sources.scan") as p:
            spark.read.parquet(self.input_path).write.format("noop").mode("overwrite").save()
        found["sources.scan_s"] = p.wall
        with self.phase(phases, "finish") as p:
            res = finish_pipeline(labeled)
            with self.tracer.span("finish.materialise"):
                out = res.output.persist()
                out.count()
                met = res.metrics.persist()
                met.count()
            write_dir = os.path.join(self.work, "rewrite")
            with self.phase(phases, "sources.write") as w:
                write_output(out, write_dir, "output")
                write_output(met, write_dir, "metrics")
        found["finish.wall_s"] = p.wall
        found["sources.write_s"] = w.wall
        with self.phase(phases, "dedup") as p:
            dedup_verdicts_fused(self._slim(labeled)).write.format("noop").mode("overwrite").save()
        found["dedup.verdict_s"] = p.wall
        for f in (out, met, labeled):
            f.unpersist(blocking=True)
        with self.phase(phases, "label") as p:
            label_stage(spark.read.parquet(self.input_path)).write.format(
                "noop").mode("overwrite").save()
        found["label.wall_s"] = p.wall
        return found


class _Phase:
    """A span that also records its wall-clock window in epoch ms."""

    def __init__(self, tracer: Tracer, phases: dict, name: str):
        self.tracer, self.phases, self.name = tracer, phases, name

    def __enter__(self):
        self._span = self.tracer.span(self.name)
        self._span.__enter__()
        self._t0 = time.time()
        self._p0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._p0
        self.phases[self.name] = (self._t0 * 1e3, time.time() * 1e3)
        return self._span.__exit__(*exc)


def _dir_stats(path: str) -> tuple:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def shared_layers(b: Bench, kernels: checks.KernelRun, n_sample: int,
                  funnel: dict, stages: dict, plan: dict, out_dir: str) -> dict:
    """The per-layer metrics both workloads report: session, core kernels,
    Python UDF and stage metrics of the traced job, funnel, plan nodes and
    output files. Python workers start in the set-up's warm-up action, so
    their start time is summed over the whole traced session."""
    job = stages.get("job", {})
    layers = b.session_layers()
    for k in checks.KERNELS:
        layers[f"core.{k}_ms"] = kernels.spent[k] / n_sample * 1e3
    layers["core.scrub_us_per_kb"] = (
        kernels.spent["scrub"] / max(kernels.scrubbed_bytes / 1024, 1e-9) * 1e6)
    layers["core.gate_pass_ratio"] = funnel["gates_pass"] / funnel["docs_in"]
    for k in UDF_KEYS:
        layers[f"udf.{k}"] = job.get(f"udf.{k}", 0.0)
    layers["udf.python_boot_s"] = sum(
        m.get("udf.python_boot_s", 0.0) for m in stages.values())
    layers["udf.rows_per_doc"] = job.get("udf.rows", 0.0) / b.n_docs
    for k in ("docs_in", "gates_pass", "discarded", "leak_rows", "docs_out"):
        layers[f"funnel.{k}"] = funnel[k]
    layers.update({f"plan.{k}": v for k, v in plan.items()})
    for k in STAGE_KEYS:
        layers[f"stages.{k}"] = job.get(k, 0.0)
    layers["sources.output_files"], layers["sources.output_bytes"] = _dir_stats(out_dir)
    return layers


def result(b: Bench, checked: dict, e2e: dict | None, layers: dict | None,
           detail: dict, stamp_start: dict) -> dict:
    """The run's record for run.py, with the host stamp and failed share."""
    end = host.stamp()
    detail.update(failed_share=checked["failed"] / checked["attempted"],
                  host_start=stamp_start, host_end=end,
                  cpu_steal_share=host.steal_share(stamp_start["cpu_ticks"],
                                                   end["cpu_ticks"]))
    detail["host_contended"] = bool(stamp_start["contenders"] or end["contenders"])
    return {"correct": checked["correct"], "attempted": checked["attempted"],
            "failed": checked["failed"], "e2e": e2e, "layers": layers,
            "detail": detail, "spans": b.tracer}


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Run ``pipeline_mixed``; returns the result record (see run.py)."""
    b = Bench(workload, seed, seconds, work)
    stamp_start = host.stamp()
    b.make_inputs(corpus.mixed_rows(seed, N_BASE))
    b.out_dir = os.path.join(work, "out")
    detail = {"workload": workload, "seed": seed, "docs": b.n_docs,
              "text_mb": b.text_mb, "cores": b.cores}
    e2e = layers = None
    try:
        with host.MemorySampler() as mem:
            if trace:
                layers, ver, extra = _traced(b)
                detail["layers_this_workload"] = extra
            else:
                setups = [b.setup(b.cores) for _ in range(SETUPS)]
                b.warm_job()
                res, walls = b.window(b.input_path)
                with b.tracer.span("verify"):
                    ver = b.verify(res)
                detail.update(setup_runs_s=setups, job_walls_s=walls)
                busy = sum(walls)
                e2e = {
                    "setup_s": (statistics.median(setups), "s"),
                    "docs_per_s": (b.n_docs * len(walls) / busy, "docs/s"),
                    "text_mb_per_s": (b.text_mb * len(walls) / busy, "MB/s"),
                }
    finally:
        b.shutdown()
    detail.update(peak_pss_mb=mem.peak / 1e6, peak_pss_split_mb=mem.peak_split)
    if layers is not None:
        layers["host.peak_pss_mb"] = mem.peak / 1e6
    ver["correct"] = ver["failed"] == 0
    detail.update(funnel=ver["funnel"], checks=ver["tally"])
    return result(b, ver, e2e, layers, detail, stamp_start)


def _traced(b: Bench) -> tuple:
    """The per-layer metrics. After a cold set-up and a warm-up job, three
    jobs, each the first job of a freshly set-up context: the quarter corpus
    at local[1], the full corpus untraced, then the full corpus with the
    event log on and spans around each call (the last two back to back, so
    they differ in tracing alone). Then one probe per layer, on the traced
    job's persisted label frame. Returns the shared layers, the check record
    and the layers only this workload has."""
    b.setup(b.cores)
    b.warm_job()
    b.setup(1)
    res, wall1 = b.job(b.quarter_path, os.path.join(b.work, "out1"))
    res.labeled.unpersist()
    dps1 = (b.n_docs // 4) / wall1
    b.setup(b.cores)
    res, wall = b.job(b.input_path, os.path.join(b.work, "out_untraced"))
    res.labeled.unpersist()
    untraced_dps = b.n_docs / wall

    phases: dict = {}
    b.setup(b.cores, b.event_dir())
    with b.phase(phases, "job"):
        res, wall = b.job(b.input_path, b.out_dir)
    traced_dps = b.n_docs / wall
    plan = sparklog.plan_node_counts(sparklog.java_plan_tree(
        res.output._jdf.queryExecution().executedPlan(), b.spark._jvm))
    with b.tracer.span("verify"):
        ver = b.verify(res)
    probes = b.probe_layers(phases, res.labeled)
    stages = b.stop_and_parse(phases)

    layers = shared_layers(b, ver["kernels"], ver["sample_docs"], ver["funnel"],
                           stages, plan, b.out_dir)
    layers["sources.scan_s"] = probes["sources.scan_s"]
    layers["sources.write_s"] = probes["sources.write_s"]
    layers["trace.docs_per_s"] = traced_dps

    # kernel time the label UDF needs, from the single-thread sample, against
    # the Python worker time of the label probe
    label = stages.get("label", {})
    need_s = ver["kernels"].need_s / ver["sample_docs"] * label.get("udf.rows", 0.0)
    py_s = label.get("udf.python_total_s", 0.0)
    extra = {
        "label.wall_s": probes["label.wall_s"],
        "label.overhead_share": 1 - need_s / py_s if py_s else None,
        "finish.wall_s": probes["finish.wall_s"],
        "dedup.verdict_s": probes["dedup.verdict_s"],
        "scaling.eff_1_4": untraced_dps / (b.cores * dps1),
        "trace.overhead_share": 1 - traced_dps / untraced_dps,
        "funnel.exact_dup": ver["funnel"]["exact_dup"],
        "funnel.near_dup": ver["funnel"]["near_dup"],
    }
    return layers, ver, extra
