"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload closed-loop from this single driver process at
``local[N]``, N = the cores this process may use. It generates the
workload's inputs from ``--seed``, sets up once (a fresh JVM and Spark
session plus the first, discarded op), runs a few untimed warm-up ops, then a fixed number of timed ops (``--seconds``
divided by the workload's rough op length), then checks the program's
outputs. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
Earlier stdout lines name the seed and the inputs, and give every
end-to-end figure in readable form, peak memory included. A traced
run also writes its spans and per-query / per-round ledger to
``.perfbench_work/ledger/<workload>-seed<N>.json``.

Workloads (see LAYERS.md for what each one stresses):

- ``query_mix``: one op is a sequential pass over a corpus query list
  (queries.py);
- ``sync_catalog``: one op is a daemon cycle, an active incremental
  round then an idle one over a parquet catalog and an Elasticsearch
  index (sync.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from es_to_clickhouse_spark.session import get_spark  # noqa: E402

from perfbench import layers  # noqa: E402
from perfbench.queries import QueryWorkload  # noqa: E402
from perfbench.sync import SyncWorkload  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = {w.name: w for w in (QueryWorkload, SyncWorkload)}
#: timed ops stop early (after the workload's ``min_ops``) only past
#: this many times ``--seconds``, so a badly slowed build still ends in time
CAP = 4
WORK = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Driver:
    """The JVM and Spark session the program runs in; :meth:`close` and
    :meth:`start` give a fresh JVM."""

    def __init__(self, work: str, n_cores: int):
        self.cores = n_cores
        self.spark = None
        self.jvm_pid = None
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        self.conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for the traced counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        # the JVM and its Python workers inherit these: scratch space stays
        # in the work directory (SPARK_LOCAL_DIRS would override
        # spark.local.dir), and the workers import the program's modules
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp

    def start(self):
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the driver JVM plus this process."""
        total_kb = 0
        for pid in (self.jvm_pid, "self"):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024


def run(args) -> dict:
    n_cores = cores()
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    driver = Driver(work, n_cores)
    tracer = Tracer(enabled=bool(args.trace))
    phases = {"start": time.perf_counter()}
    wl = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        phases["generate"] = time.perf_counter()
        print(f"perfbench workload={args.workload} seed={args.seed} cores={n_cores} "
              f"input_rows={wl.input_rows} trace={args.trace}", flush=True)

        # set-up: a fresh JVM and Spark session, then the first, discarded op
        tracer.op = "setup"
        t0 = time.perf_counter()
        spark = driver.start()
        tracer.bind(spark)
        t1 = time.perf_counter()
        with tracer.span("session.first_op"):
            rows = wl.setup(spark, tracer)
        t2 = time.perf_counter()
        setup = (t1 - t0, t2 - t1)
        tracer.collect()
        phases["setup"] = time.perf_counter()
        # untimed warm-up ops: repeated ops get faster for a while after
        # the set-up (JIT), which would tie op_s to warm-up progress
        warm = wl.warm(spark, tracer)
        phases["warmup"] = time.perf_counter()
        ops, failed_ops = [], 0
        n_ops = max(wl.min_ops, round(args.seconds / wl.op_estimate_s))
        deadline = time.perf_counter() + CAP * args.seconds
        while len(ops) < n_ops and (len(ops) < wl.min_ops or time.perf_counter() < deadline):
            wl.prepare()
            tracer.op = len(ops)
            t0 = time.perf_counter()
            try:
                wl.op(spark, tracer)
            except Exception:
                traceback.print_exc()
                failed_ops += 1
            ops.append(time.perf_counter() - t0)
            tracer.collect()

        phases["timed"] = time.perf_counter()
        n_checks, errors = wl.check(spark)
        phases["check"] = time.perf_counter()
        for e in errors:
            print(f"CHECK FAILED: {e}", flush=True)
        attempted = len(ops) + n_checks
        failed = failed_ops + len(errors)
        e2e = {
            "op_s": (statistics.median(ops), "s"),
            "setup_s": (sum(setup), "s"),
        }
        report = layers.readable(wl, ops, setup, rows)
        report["peak_rss_mb"] = (driver.peak_rss_mb(), "MB")
        report["error_rate"] = (failed / attempted, "ratio")
        for k, (v, unit) in report.items():
            print(f"  {k} = {v:.6g} {unit}", flush=True)
        names = list(phases)
        secs = lambda ts: " ".join(f"{t:.2f}" for t in ts)  # noqa: E731
        print("  phases: " + ", ".join(
            f"{b} {phases[b] - phases[a]:.1f}s" for a, b in zip(names, names[1:])
        ) + f"; set-up {secs(setup)} s; warm-up ops {secs(warm)} s; timed ops {secs(ops)} s",
            flush=True)
        if args.trace:
            metrics = layers.per_layer(tracer, wl, n_cores, setup)
            layers.write_ledger(
                os.path.join(WORK, "ledger", f"{args.workload}-seed{args.seed}.json"),
                args.workload, args.seed, n_cores, tracer,
            )
        else:
            metrics = e2e
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        driver.close()
        if wl is not None:
            wl.close()
        shutil.rmtree(work, ignore_errors=True)


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
