#!/usr/bin/env python3
"""Layer-by-layer benchmark of phphll_spark on the box it runs on.

    python3 perfbench/run.py --workload grouped_host_day --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Generated tables and their exact truth
are cached under ``.perfbench_cache/`` by (table, seed, size). The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it records the
session settings, sample counts and accuracy figures. A failed
correctness check makes the exit code 1. See perfbench/NOTES.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUPS = 3  # session set-ups per run; setup_s is their median
MIN_REPS = 3  # timed jobs per run, even when --seconds runs out first
# untimed (but checked) jobs between the last set-up and the timed ones:
# dedup_minhash jobs still get faster for ~5 jobs after three cold ones
# (4.3, 3.6, 3.5, 3.7, 3.5, then 2.7-3.1 s) as the JVM compiles hot code
WARM_JOBS = 4
ROUNDS = 3  # interleaved rounds of the rung ladder in a traced run


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:8.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark process: its Spark sessions, checks and results."""

    def __init__(self, workload, args, settings, n_cores):
        self.wl = workload
        self.args = args
        self.settings = settings
        self.n_cores = n_cores
        self.spark = None
        self.checks = []
        self.failures = []
        self.info = {"workload": workload.name, "seed": args.seed, "settings": settings}

    # -- sessions ---------------------------------------------------------

    def start(self, ui: bool):
        from pyspark.sql import SparkSession

        tmp = os.path.join(CACHE, "tmp")
        b = SparkSession.builder.appName(f"perfbench-{self.wl.name}")
        conf = {
            **self.settings,
            "spark.ui.enabled": "true" if ui else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
            "spark.local.dir": os.path.join(CACHE, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            # keep the JVM's temp files in the checkout; no /tmp/hsperfdata
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        for k, v in conf.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        log(f"session up (ui={ui})")
        # start a Python worker on every core before anything is timed
        from perfbench.workloads import identity

        self.spark.range(0, 4 * self.n_cores, numPartitions=self.n_cores).mapInArrow(
            identity, schema="id long"
        ).count()
        log("workers warm")

    def stop(self):
        self.spark.stop()
        self.spark = None

    def shutdown(self):
        """Stop the session, then the JVM PySpark launched, and wait."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- jobs -------------------------------------------------------------

    def record(self, c):
        self.checks.append(c)
        if not c.ok:
            self.failures.append(c.detail)
        return c

    def timed_job(self):
        """(seconds, result) of one job; a raised error is a failed job."""
        t = time.perf_counter()
        try:
            result = self.wl.job(self.spark)
        except Exception as e:
            from perfbench.workloads import Check

            traceback.print_exc()
            self.record(Check(False, 0.0, 0.0, 0.0, 0.0, f"job raised {type(e).__name__}"))
            return time.perf_counter() - t, None
        dt = time.perf_counter() - t
        c = self.record(self.wl.check(result))
        log(f"job {dt:.3f}s ok={c.ok} {c.detail}")
        return dt, result

    def setup(self, first: bool, ui: bool = False) -> float:
        """One set-up: session start, worker warm-up and one untimed cold
        job. The first also loads (or generates) the cached table, whose
        generation time is left out."""
        t0 = T_PROCESS if first else time.perf_counter()
        self.start(ui)
        gen = 0.0
        if first:
            t = time.perf_counter()
            self.wl.prepare(self.spark, os.path.join(CACHE, "data"), self.args.seed, self.n_cores)
            gen = time.perf_counter() - t
            self.info["prepare_s"] = gen
            log(f"table ready ({gen:.1f}s)")
        self.timed_job()
        return time.perf_counter() - t0 - gen

    def warm_up(self) -> None:
        for _ in range(WARM_JOBS):
            self.timed_job()

    def timed_reps(self) -> list[float]:
        times = []
        deadline = time.perf_counter() + self.args.seconds
        while len(times) < MIN_REPS or time.perf_counter() < deadline:
            times.append(self.timed_job()[0])
        return times

    def workers_peak_rss_mb(self) -> tuple[float, float]:
        from perfbench import box

        jvms, workers = box.jvm_and_python_workers(os.getpid())
        return (
            max((box.peak_rss_mb(p) for p in workers), default=0.0),
            max((box.peak_rss_mb(p) for p in jvms), default=0.0),
        )

    # -- the two kinds of run ---------------------------------------------

    def untraced(self) -> dict[str, float]:
        setups = [self.setup(first=True)]
        for _ in range(SETUPS - 1):
            self.stop()
            setups.append(self.setup(first=False))
        self.warm_up()
        times = self.timed_reps()
        timed = self.checks[-len(times):]
        py_rss, _ = self.workers_peak_rss_mb()
        self.info.update(setup_s_each=setups, job_s_each=times, job_reps=len(times))
        p50 = statistics.median(times)
        return {
            "setup_s": statistics.median(setups),
            "job_s_p50": p50,
            "rows_per_s": self.wl.truth["rows"] / p50,
            "py_peak_rss_mb": py_rss,
            "recall": statistics.mean(c.recall for c in timed),
            "precision": statistics.mean(c.precision for c in timed),
        }

    def traced(self, per_layer: list[str]) -> dict[str, float]:
        from perfbench.trace import Tracer, stage_totals

        # untraced reference for trace_overhead_s: the same job, UI off
        self.setup(first=True)
        self.warm_up()
        untraced_p50 = statistics.median(self.timed_job()[0] for _ in range(MIN_REPS))
        self.stop()

        self.setup(first=False, ui=True)
        tracer = Tracer(self.spark)
        results = []
        ladder = self.wl.ladder(self.spark, results)
        for r in range(ROUNDS):
            with tracer.span(f"round{r}") as rid:
                for name, thunk in ladder:
                    with tracer.span(name, rid):
                        thunk()
        for res in results:
            self.record(self.wl.check(res))
        rung_s = {
            name: statistics.median(s["end"] - s["start"] for s in tracer.named(name)) for name, _ in ladder
        }
        full = tracer.named("full")
        wall = sum(s["end"] - s["start"] for s in full)
        totals = stage_totals(self.spark, [j for s in full for j in s["jobs"]])
        scratch = os.path.join(CACHE, "trace", f"{self.wl.name}-s{self.args.seed}")
        os.makedirs(scratch, exist_ok=True)
        metrics = dict.fromkeys(per_layer, 0.0)
        layers, checks = self.wl.layer_metrics(self.spark, rung_s, results, scratch)
        metrics.update(layers)
        for c in checks:
            self.record(c)
        metrics.update(
            {
                "spark.shuffle_write_mb": totals["shuffle_write_bytes"] / 1e6 / len(full),
                "spark.gc_s": totals["gc_ms"] / 1e3 / len(full),
                "spark.task_busy_share": totals["run_ms"] / 1e3 / (wall * self.n_cores),
                "spark.jvm_peak_rss_mb": self.workers_peak_rss_mb()[1],
                "trace_overhead_s": rung_s["full"] - untraced_p50,
            }
        )
        self.info.update(rung_s=rung_s, untraced_job_s_p50=untraced_p50, rounds=ROUNDS)
        tracer.write(os.path.join(scratch, "spans.json"))
        return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "phphll_spark")):
        print(f"perfbench: no phphll_spark/ package next to perfbench/ under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the library and perfbench from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")

    from perfbench import box
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    n_cores = box.cores()
    settings = box.spark_settings(n_cores, box.mem_total_bytes())
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    run = Run(WORKLOADS[args.workload](), args, settings, n_cores)
    try:
        metrics = run.traced(list(units)) if args.trace else run.untraced()
    finally:
        run.shutdown()
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
    attempted = len(run.checks)
    failed = len(run.failures)
    run.info.update(
        rows=run.wl.truth["rows"],
        error_rate=failed / attempted,
        est_rel_err=sum(c.abs_err for c in run.checks) / max(1e-12, sum(c.exact for c in run.checks)),
        failures=run.failures[:5],
    )
    print(json.dumps({"info": run.info}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
