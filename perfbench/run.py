"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One run starts a fresh SparkSession,
generates the workload's inputs from ``--seed`` under
``.perfbench_work/`` in the checkout, runs one cold pass, then warm
passes until ``--seconds`` have passed (at least ``MIN_WARM_PASSES``),
and checks every pass's output against a numpy oracle.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` mixes untraced and traced warm passes (``TRACE_ORDER``),
runs the untimed layer probes, and reports the per-layer metrics; its
spans are written to ``.perfbench_work/traces/``.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from tracing import (
    SELF_TIME_LAYERS, Tracer, peak_rss_mb, plan_counters, task_counts,
)
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: Warm passes per run, whatever ``--seconds`` is.  One keeps the
#: slowest workload's run near 40 s, so that all runs fit the time the
#: whole benchmark is given even when the host slows down.
MIN_WARM_PASSES = 1
#: A traced run orders its warm passes untraced, traced, traced,
#: untraced (repeating), so that the passes still speeding up as the
#: JIT warms do not bias the tracing overhead either way.
TRACE_ORDER = (False, True, True, False)
#: Driver heap: a quarter of the host's memory, at most 2 GiB.
MAX_DRIVER_MEM_MB = 2048


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench | {time.perf_counter() - T0:7.2f} s | {msg}", flush=True)


def driver_mem() -> str:
    with open("/proc/meminfo") as fh:
        total_kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return f"{max(512, min(MAX_DRIVER_MEM_MB, total_kb // 4096))}m"


def launch_env(workdir: str) -> dict[str, str]:
    """Deployment variables read by ``session.py``, plus temp paths so
    that the JVM and Python write only inside the work directory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_DRIVER_MEM": driver_mem(),
        "TMPDIR": tmp,
        "_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def stop_session(spark) -> None:
    """Stop the SparkContext, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: a session, a workload, its passes."""

    def __init__(self, args, workdir: str):
        self.args = args
        self.workdir = workdir
        self.run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0

    def one_pass(self, wl, tr, pass_no: int, traced: bool):
        """Run, time and check one pass.  Returns (seconds, per-layer
        readings of a traced pass or None)."""
        sc = self.spark.sparkContext
        tr.enabled, tr.pass_no, tr.executed = traced, pass_no, []
        group = f"{self.run_id}-pass{pass_no}"
        if traced:
            sc.setJobGroup(group, "perfbench traced pass")
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            try:
                out = wl.run_pass(tr)
            finally:
                dt = time.perf_counter() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
            wl.check(out, pass_no)
        except Exception:  # a failed pass is counted, and the run goes on
            self.failed += 1
            log(f"pass {pass_no} FAILED:\n{traceback.format_exc()}")
        log(f"pass {pass_no} {'traced' if traced else 'untraced'} {dt:.3f} s")
        if not traced:
            return dt, None
        tr.enabled = False
        by_owner: dict[str, dict[str, int]] = {}
        for owner, qe in tr.executed:
            agg = by_owner.setdefault(owner, {})
            for k, v in plan_counters(qe).items():
                agg[k] = agg.get(k, 0) + v
        tasks, failed_tasks = task_counts(sc, group)
        return dt, {
            "durations": tr.durations(pass_no),
            "self": tr.self_times(pass_no),
            "by_owner": by_owner,
            "tasks": tasks,
            "failed_tasks": failed_tasks,
        }

    def main(self) -> dict:
        from dask_traj_spark.session import get_spark

        args = self.args
        env = launch_env(self.workdir)
        log(f"env {json.dumps(env, sort_keys=True)}")
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            },
        )
        session_start = time.perf_counter() - t0
        try:
            self.spark.sparkContext.setLogLevel("ERROR")
            wl = WORKLOADS[args.workload](self.spark, args.seed, self.workdir)
            t1 = time.perf_counter()
            wl.setup()
            gen = time.perf_counter() - t1
            log(f"setup: session {session_start:.3f} s + inputs {gen:.3f} s")
            tr = Tracer(self.run_id, enabled=False)
            cold, _ = self.one_pass(wl, tr, 0, traced=False)
            untraced, traced, layers = [], [], []
            t_warm = time.perf_counter()
            n, min_passes = 0, len(TRACE_ORDER) if args.trace else MIN_WARM_PASSES
            while n < min_passes or time.perf_counter() - t_warm < args.seconds:
                trace_this = bool(args.trace) and TRACE_ORDER[n % len(TRACE_ORDER)]
                n += 1
                dt, reading = self.one_pass(wl, tr, n, trace_this)
                (traced if trace_this else untraced).append(dt)
                if reading:
                    layers.append(reading)
            run_s = median(untraced)
            log(f"run_s = median of {len(untraced)} untraced warm passes")
            metrics = {
                "setup_s": session_start + gen,
                "cold_run_s": cold,
                "run_s": run_s,
                "items_per_s": wl.items_per_pass / run_s,
            }
            if args.trace:
                probes = wl.probes(layers[-1]["by_owner"])
                metrics = layer_metrics(
                    wl, layers, probes, session_start, run_s, median(traced),
                    self.failed / self.attempted,
                )
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                path = os.path.join(WORK, "traces", f"{self.run_id}.json")
                tr.write(path, {"env": env, "metrics": metrics})
                log(f"spans written to {os.path.relpath(path, ROOT)}")
            metrics["peak_rss_mb"] = peak_rss_mb(
                self.spark.sparkContext._gateway.proc.pid
            )
            log("measured")
            return metrics
        finally:
            stop_session(self.spark)


def layer_metrics(wl, layers, probes, session_start, run_s, traced_run_s, failed_frac):
    """Per-layer metrics: span and counter readings are medians over
    the traced passes; probe readings are added as measured."""
    nproc = len(os.sched_getaffinity(0))

    def med(get):
        return median([get(r) for r in layers])

    def span(name):
        return med(lambda r: r["durations"].get(name, 0.0))

    def counter(key, owner=None):
        return med(lambda r: sum(
            c.get(key, 0) for o, c in r["by_owner"].items() if owner in (None, o)
        ))

    m = {
        "session.start_s": session_start,
        "trajectory.dims_s": span("trajectory.dims"),
        "distance.vectorized_s": span("distance.vectorized"),
        "sql.distances_s": span("sql.distances"),
        "sql.displacements_s": span("sql.displacements"),
        "sql.angles_s": span("sql.angles"),
        "agg.com_s": span("agg.com"),
        "agg.cog_s": span("agg.cog"),
        "agg.closest_contact_s": span("agg.closest_contact"),
        "dedup.exact_s": span("dedup.exact"),
        "dedup.minhash_s": span("dedup.minhash"),
        "arrow.rows_in": counter("arrow_rows_in"),
        "arrow.rows_out": counter("arrow_rows_out"),
        "arrow.bytes_in": counter("arrow_bytes_in"),
        "arrow.bytes_out": counter("arrow_bytes_out"),
        "spark.exchanges": counter("exchanges"),
        "spark.shuffle_bytes": counter("shuffle_bytes"),
        "spark.spill_bytes": counter("spill_bytes"),
        "spark.tasks": med(lambda r: r["tasks"]),
        "spark.failed_tasks": med(lambda r: r["failed_tasks"]),
        "trace.overhead_s": traced_run_s - run_s,
        "ops_failed_frac": failed_frac,
    }
    for layer in SELF_TIME_LAYERS:
        m[f"{layer}.self_s"] = med(lambda r: r["self"].get(layer, 0.0))
    m["distance.atom_filter_frac"] = (
        counter("arrow_rows_in", "distance.vectorized") / wl.feed_rows
        if wl.feed_rows else 0.0
    )
    pe = probes.get("kernels.pair_evals_per_s")
    vs = m["distance.vectorized_s"]
    m["distance.parallel_efficiency"] = (
        wl.vector_pair_evals / vs / (nproc * pe) if pe and vs else 0.0
    )
    m.update(probes)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "dask_traj_spark", "__init__.py"),
                 os.path.join(ROOT, "tests", "golden.py")):
        if not os.path.isfile(need):
            print(f"perfbench: {os.path.relpath(need, ROOT)} not found under {ROOT}",
                  file=sys.stderr)
            return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    declared = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    # and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK, exist_ok=True)
    workdir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    run = Run(args, workdir)
    try:
        values = run.main()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    log("stopped")
    if args.trace:
        # a layer the workload does not reach reports zero
        for d in declared:
            values.setdefault(d["name"], 0.0)
    missing = [d["name"] for d in declared if d["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            d["name"]: {"value": float(values[d["name"]]), "unit": d["unit"]}
            for d in declared
        },
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
