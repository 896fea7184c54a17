#!/usr/bin/env python3
"""Benchmark entry point for the spark-dq-engine.

    python3 perfbench/run.py --workload fleet_audit --seed 1 --seconds 10 --trace 0

Generates (or reuses) the workload's seeded inputs, starts a Spark session
with the settings pinned below, runs one untimed warm-up iteration, then
times iterations for ``--seconds`` and checks every iteration's output
against the generator's ground truth. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``). The exit
code is non-zero if any iteration failed or its output check failed.

Run it from the repository root; everything it writes stays under
``perfbench/`` (``.cache`` for inputs, ``.work`` for outputs and Spark's
scratch space, ``.out`` for span files).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

#: pinned session settings: local[CORES], SHUFFLE_PARTITIONS shuffle
#: partitions, a DRIVER_MEM heap (get_spark would default to 16g)
CORES = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "1g"
#: every run times at least this many iterations, whatever --seconds says
MIN_ITERS = 1
#: stop iterating once the run has used this much wall time
RUN_BUDGET_S = 150.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def boottime() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_start() -> float:
    """When this process started, on the CLOCK_BOOTTIME scale."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Session settings that must be in place before the JVM starts. Every
    scratch directory Spark and Python use is under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf '{k}={v}'" for k, v in confs.items()) + " pyspark-shell"


def start_session():
    from data_quality_checks_in_relational_database_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def tail(times: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples beyond it: the
    (n-10)-th order statistic, with its percentile. None below 11 samples."""
    n = len(times)
    if n < 11:
        return None
    return sorted(times)[n - 11], 100.0 * (n - 10) / n


class Runner:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        t0 = boottime()
        self.data = gen.ensure(os.path.join(HERE, ".cache"), args.workload, args.seed)
        self.gen_s = boottime() - t0
        self.spark = None
        self.n = 0

    def start(self):
        t0 = time.perf_counter()
        self.spark = start_session()
        self.session_s = time.perf_counter() - t0
        self.ready = boottime()
        self.off = spans.Tracer("off", enabled=False)
        self.wl = workloads.WORKLOADS[self.args.workload](self.spark, self.data, self.off)
        self.bytes = spans.WriteCounter(self.spark)

    def settle(self) -> None:
        """Untimed: collect garbage on both sides, so a timed iteration
        does not pay for its predecessor's garbage."""
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()

    def iteration(self, tracer=None) -> dict:
        """One timed iteration plus its (untimed) output check."""
        tracer = tracer or self.off
        self.wl.tr = tracer
        self.n += 1
        out = os.path.join(self.work, f"iter-{self.n}")
        rec = {"errors": []}
        b0 = self.bytes.written()
        t0 = time.perf_counter()
        try:
            with tracer.span("iteration", "root") as root:
                res = self.wl.run(out)
            rec["seconds"] = time.perf_counter() - t0
            # bytes written, including files the iteration deleted again
            rec["bytes_written"] = self.bytes.written() - b0
            tracer.finalize()
            rec["root"] = root
            rec["errors"] = self.wl.check(res)
            rec["res"] = res
        except Exception:  # a failed iteration is counted, reported and the run goes on
            rec.setdefault("seconds", time.perf_counter() - t0)
            rec["errors"] = [traceback.format_exc()]
        finally:
            self.wl.tr = self.off
            self.spark.catalog.clearCache()
        for e in rec["errors"]:
            print(f"[{self.args.workload}] iteration {self.n} check failed: {e}", file=sys.stderr)
        return rec

    def drop_outputs(self) -> None:
        for name in os.listdir(self.work):
            if name.startswith("iter-"):
                shutil.rmtree(os.path.join(self.work, name), ignore_errors=True)


def end_to_end(run: Runner, setup_s: float, recs: list[dict]) -> dict:
    p50 = statistics.median(r["seconds"] for r in recs)
    return {
        "setup_s": (setup_s, "s"),
        "iter_s.p50": (p50, "s"),
        "rows_per_s": (run.wl.input_rows / p50, "1/s"),
        "jvm_peak_rss_mb": (jvm_peak_rss_mb(run.spark), "MB"),
        "py_peak_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
        "write_amp": (statistics.median(r.get("bytes_written", 0) for r in recs) / run.wl.input_bytes, "ratio"),
    }


def report_table(run: Runner, metrics: dict, recs: list[dict], failed: int) -> None:
    """Human-readable summary (every end-to-end metric, tail and failures
    included) ahead of the machine-readable last line."""
    w = run.args.workload
    print(f"[{w}] input: {run.wl.input_rows} rows, {run.wl.input_bytes} bytes (seed {run.args.seed})")
    print(f"[{w}] generation {run.gen_s:.3f} s (untimed), session start {run.session_s:.3f} s")
    for k, (v, u) in metrics.items():
        print(f"[{w}] {k:<18} {v:>14.4f} {u}")
    t = tail([r["seconds"] for r in recs])
    if t is None:
        print(f"[{w}] iter_s.tail        n/a: {len(recs)} iterations, a tail needs at least 11")
    else:
        print(f"[{w}] iter_s.tail        {t[0]:>14.4f} s (p{t[1]:.1f} of {len(recs)} iterations)")
    print(f"[{w}] fail_ratio         {failed / max(len(recs), 1):>14.4f} ({failed}/{len(recs)})")


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = process_start()
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    pin_environment(work)
    run = None
    try:
        run = Runner(args, work)
        run.start()
        warm = run.iteration()
        # set-up: process start to a ready session plus the warm-up
        # iteration; the generator and the output check are not timed
        setup_s = run.ready - t_start - run.gen_s + warm["seconds"]
        if warm["errors"]:
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        run.drop_outputs()
        if args.trace:
            return traced_run(run)
        recs, deadline = [], time.perf_counter() + args.seconds
        while len(recs) < MIN_ITERS or time.perf_counter() < deadline:
            run.settle()
            recs.append(run.iteration())
            run.drop_outputs()
            if boottime() - t_start > RUN_BUDGET_S:
                break
        failed = sum(1 for r in recs if r["errors"])
        metrics = end_to_end(run, setup_s, recs)
        report_table(run, metrics, recs, failed)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(recs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if failed == 0 else 1
    finally:
        if run is not None and run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)


def traced_run(run: Runner) -> int:
    """Alternate traced and untraced iterations; report per-layer metrics
    from the traced ones and the tracing overhead from both."""
    args = run.args
    traced, plain, all_spans = [], [], []
    deadline = time.perf_counter() + args.seconds
    i = 0
    while (len(traced) < 1 or len(plain) < 1) or time.perf_counter() < deadline:
        run.settle()
        if i % 2 == 0:
            tracer = spans.Tracer(f"{args.workload}-s{args.seed}-i{run.n + 1}", run.spark)
            tracer.iteration = run.n + 1
            rec = run.iteration(tracer)
            rec["spans"] = tracer.spans
            if not rec["errors"]:  # read its outputs before they are dropped
                rec["metrics"] = layers.iteration_metrics(run, rec)
            all_spans.extend(tracer.spans)
            traced.append(rec)
        else:
            plain.append(run.iteration())
        run.drop_outputs()
        i += 1
        if boottime() - process_start() > RUN_BUDGET_S:
            break
    recs = traced + plain
    failed = sum(1 for r in recs if r["errors"])
    metrics = layers.per_layer(traced, plain)
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    span_file = os.path.join(HERE, ".out", f"spans-{args.workload}-s{args.seed}.json")
    with open(span_file, "w") as fh:
        json.dump(all_spans, fh)
    layers.print_breakdown(run, traced, metrics, span_file)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
