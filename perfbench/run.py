#!/usr/bin/env python3
"""The repository benchmark: one command, every metric by name and unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Workloads:

- ``headline_sf0.1``: closed loop, one client, over bench.py's 11 headline
  queries on seeded sf0.1 tables. Fixed per-query cost dominates.
- ``probe_x10``: closed loop over tools/scale_probe.py's 7 probe queries on a
  10x key-shifted copy of those tables. Operators and shuffle dominate.
- ``fraud_stream``: open-loop stream scoring of seeded credit-card events
  (see fraud_stream.py).

``--trace 0`` measures end to end with no tracing. ``--trace 1`` is a
separate run with Spark's event log (and, for the stream, a progress
listener) on; it reports the per-layer metrics and prints per-layer
self-time tables. ``--report`` prints, per workload, the medians of every
recorded run and the tracing overhead (traced minus untraced end to end).

All inputs come from ``--seed``; the engine is driven only through its
public entry points. Every file a run writes stays under ``.perfbench_out/``
in the working directory: scratch data is deleted at exit, and a JSON record
of the run is kept in ``.perfbench_out/results/``. The last line of stdout
is the result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

WORKLOADS = ("headline_sf0.1", "probe_x10", "fraud_stream")
# a run that has not finished by then (a hung or dying JVM) is stopped and
# exits non-zero; probe_x10 takes ~150 s and gets more
DEADLINE_S = {"headline_sf0.1": 170, "probe_x10": 600, "fraud_stream": 170}
# set-ups per run. The first pays the JVM launch and the JIT warm-up, which
# swing with the machine's load, so setup_s is the median of the warm ones
# after it and the cold one is reported apart as setup_cold_s. One warm
# set-up keeps a stream run (a warm set-up trains for ~5 s) in its budget
SETUP_REPS = 2
MAX_THREADS = 4
DRIVER_MEMORY = "3g"

# the end-to-end metrics every workload reports on its last line under
# --trace 0: for the query workloads throughput is queries/s, for
# fraud_stream events per second while draining the backlog. Latency
# percentiles are on the detail line only: on a shared 4-vCPU machine under
# CPU steal their spread across ten runs reached 0.28 of the median
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
}
# every end-to-end metric under its workload's own name, on the detail line
NAMED_UNITS = {
    "setup_s": "s",
    "setup_cold_s": "s",
    "qps": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "stream_lat_p50_low_s": "s",
    "stream_lat_p95_low_s": "s",
    "stream_lat_p50_high_s": "s",
    "stream_lat_p95_high_s": "s",
    "stream_backlog_end": "count",
    "stream_drain_eps": "1/s",
    "failed_ratio": "ratio",
    "peak_rss_mb": "MB",
}
# the per-layer metrics of the last line under --trace 1. io.fixture_s
# (probe_x10 only) and op.python_s (no Python worker in the headline or
# stream plans) stay in the run record and the printed tables
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.aqe_replans": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sched_delay_s": "s",
    "spark.empty_task_ratio": "ratio",
    "op.scan_s": "s",
    "op.exchange_s": "s",
    "op.join_s": "s",
    "op.agg_s": "s",
    "op.sort_s": "s",
    "op.codegen_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "spark.task_skew": "ratio",
    "ml.train_s": "s",
    "ml.save_load_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.empty_batch_ratio": "ratio",
    "streaming.gen_lag_s": "s",
}


class Run:
    """State of one benchmark run: arguments, scratch paths, wall time of
    the harness phases, and the Spark session the workload drives."""

    def __init__(self, args, root: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = min(MAX_THREADS, len(os.sched_getaffinity(0)))
        self.root = os.path.join(root, ".perfbench_out")
        self.dir = os.path.join(self.root, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        self.spark = None
        self.jvm_pid = None
        self.event_log_dir = None
        self.get_spark_s: list[float] = []
        self.setup_reps: list[float] = []
        self.phases: dict[str, float] = {}
        self.tables: list[str] = []

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    @contextlib.contextmanager
    def phase(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t

    @staticmethod
    def pct(values: list[float], p: float) -> float:
        """Harrell-Davis estimate of the ``p``-th percentile: a weighted
        mean of every order statistic, so with a few dozen samples of
        unlike queries it does not jump from one query's latency to the
        next the way the nearest-rank percentile does."""
        import numpy as np

        if not values:
            return 0.0
        x = np.sort(np.asarray(values, dtype=float))
        n, q = len(x), p / 100
        a, b = q * (n + 1), (1 - q) * (n + 1)
        grid = np.linspace(0.0, 1.0, 20001)[1:-1]
        cdf = np.cumsum(grid ** (a - 1) * (1 - grid) ** (b - 1))
        cdf = np.concatenate([[0.0], cdf / cdf[-1]])
        weights = np.diff(np.interp(np.arange(n + 1) / n,
                                    np.concatenate([[0.0], grid]), cdf))
        return float(weights @ x)

    def new_session(self, shuffle_partitions: int, conf: dict, master=None):
        """Stop the current session and build a new one with ``get_spark``.
        In a traced run every session writes its own event log."""
        from final_project_big_data_spark.session import get_spark

        self.stop_session()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        } | conf
        if self.trace and "spark.eventLog.dir" not in conf:
            import spark_log

            self.event_log_dir = self.path(f"eventlog-{len(self.get_spark_s)}")
            conf |= spark_log.event_log_conf(self.event_log_dir)
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=master or f"local[{self.cores}]",
            shuffle_partitions=shuffle_partitions,
            extra_conf=conf,
        )
        self.get_spark_s.append(time.perf_counter() - t)
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def setup(self, ready, **session_args):
        """Set up ``SETUP_REPS`` times, each a fresh session plus the
        workload's ``ready`` steps; the first pays the JVM launch. Returns
        the last session and the median time of the warm set-ups."""
        with self.phase("setup"):
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                spark = self.new_session(**session_args)
                ready(spark)
                self.setup_reps.append(time.perf_counter() - t)
        return spark, statistics.median(self.setup_reps[1:])

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the driver JVM."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        if self.jvm_pid is not None:
            with open(f"/proc/{self.jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024

    def close(self) -> None:
        """Stop the session and the JVM, wait for it, drop scratch data."""
        try:
            self.stop_session()
        finally:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 - still running: kill it
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            shutil.rmtree(self.dir, ignore_errors=True)


def _isolate(run: Run) -> None:
    """Point every temp/scratch location of Python, Spark and the JVM into
    the run's own directory, and cap the driver heap."""
    os.environ["TMPDIR"] = run.tmp
    tempfile.tempdir = run.tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _watchdog(run: Run, seconds: float) -> threading.Timer:
    """Kill the driver JVM and exit with code 3 if the run outlives
    ``seconds``."""
    def expire() -> None:
        print(f"run exceeded {seconds:.0f} s, stopping it", file=sys.stderr, flush=True)
        if run.jvm_pid is not None:
            with contextlib.suppress(ProcessLookupError):
                os.kill(run.jvm_pid, signal.SIGKILL)
        shutil.rmtree(run.dir, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(seconds, expire)
    timer.daemon = True
    timer.start()
    return timer


def _metric_block(values: dict, units: dict, only_present: bool = False) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in units.items() if k in values or not only_present}


def _report(root: str) -> None:
    """Per workload: median of every metric over the recorded runs, untraced
    and traced, and tracing overhead on the end-to-end metrics."""
    runs: dict[tuple[str, bool], list[dict]] = {}
    for path in glob.glob(os.path.join(root, ".perfbench_out", "results", "*.json")):
        with open(path) as f:
            rec = json.load(f)
        runs.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    for workload in WORKLOADS:
        plain, traced = runs.get((workload, False), []), runs.get((workload, True), [])
        if not plain and not traced:
            continue
        print(f"{workload}: {len(plain)} untraced runs, {len(traced)} traced runs")
        for key in (plain or traced)[0]["e2e"]:
            a = [r["e2e"][key] for r in plain]
            b = [r["e2e"][key] for r in traced]
            line = f"  {key:<20}"
            if a:
                line += f" untraced median {statistics.median(a):.4f}"
            if b:
                line += f"  traced median {statistics.median(b):.4f}"
            if a and b:
                diff = statistics.median(b) - statistics.median(a)
                line += f"  overhead {diff:+.4f} ({diff / statistics.median(a):+.1%})"
            print(line)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=7.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    if args.report:
        _report(root)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(root, "final_project_big_data_spark")):
        print("run from the repository root: final_project_big_data_spark/ "
              "is not in the working directory", file=sys.stderr)
        return 2
    sys.path.insert(1, root)

    t_start = time.perf_counter()
    run = Run(args, root)
    _isolate(run)
    watchdog = _watchdog(run, DEADLINE_S[args.workload])
    try:
        if args.workload == "fraud_stream":
            import fraud_stream as workload
        else:
            import closed_loop as workload
        res = workload.run(run, args.workload)
        peak_rss_mb = run.peak_rss_mb()
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        run.close()
        watchdog.cancel()
    run.phases["total"] = time.perf_counter() - t_start

    res["named"] |= {
        "setup_s": res["e2e"]["setup_s"],
        "setup_cold_s": run.setup_reps[0],
        "peak_rss_mb": peak_rss_mb,
        "failed_ratio": res["failed"] / max(res["attempted"], 1)}
    res["layers"]["session.get_spark_s"] = statistics.median(run.get_spark_s)
    record = {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
        "trace": run.trace, "threads": run.cores,
        "setup_reps_s": run.setup_reps,
        "session.get_spark_s": run.get_spark_s,
        "phases_s": run.phases,
        **res,
        "tables": run.tables,
    }
    os.makedirs(os.path.join(run.root, "results"), exist_ok=True)
    out = os.path.join(run.root, "results",
                       f"{run.workload}-seed{run.seed}-trace{int(run.trace)}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    for table in run.tables:
        print(table)
    if res["errors"]:
        print(json.dumps({"errors": res["errors"]}))
    print(json.dumps({"workload": run.workload, "samples": res["samples"],
                      "named": _metric_block(res["named"], NAMED_UNITS, True),
                      "record": os.path.relpath(out, root)}))
    metrics = (_metric_block(res["layers"], LAYER_UNITS) if run.trace
               else _metric_block(res["e2e"], E2E_UNITS))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
