#!/usr/bin/env python
"""Fresh-process single-query bench A/B harness.

Round-6 lesson (SCALE.md, memory): Spark perf knobs must NEVER be A/B'd
by looping configs inside one Python process — `spark.stop()` keeps the
JVM and JIT warm-up makes every later config look faster. This tool runs
ONE config in ONE process and prints one JSON line; a driver script runs
it serially, one process per (config, repetition).

Usage::

    python tools/ab_query.py QUERY [--aqe=on|off] [--mpb=BYTES]
        [--parts=N] [--runs=N] [--sf=DIR] [--no-presort] [--stages]

Defaults mirror bench.py's shipping session exactly (``session.sized_conf``),
so `python tools/ab_query.py q06_join_inner` reproduces the BENCH number
for that query; each flag overrides exactly one knob for attribution.
``--no-presort`` patches the cost-based range presort
(plans.ordering.range_presorted_for_join) to never presort, isolating
the query-shape lever from the session levers. ``--stages`` writes the
session's event log and prints a second JSON line: the final (warmed)
run's jobs, stages, tasks, operator seconds and shuffle/spill bytes
(``perfbench/spark_log``), then its task-time table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    name = args[0]
    opts = dict(
        a.lstrip("-").split("=", 1) for a in args[1:] if "=" in a
    )
    no_presort = "--no-presort" in args
    sf_dir = opts.get("sf", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    runs = int(opts.get("runs", "5"))

    from final_project_big_data_spark.queries import all_specs
    from final_project_big_data_spark.session import (
        SIZED_SPLITS,
        get_spark,
        sized_conf,
    )

    conf = sized_conf(sf_dir)
    if "aqe" in opts:
        conf["spark.sql.adaptive.enabled"] = str(opts["aqe"] == "on").lower()
    if "mpb" in opts:
        conf[SIZED_SPLITS] = opts["mpb"]
    if "parts" in opts:
        conf["spark.sql.shuffle.partitions"] = opts["parts"]
    aqe = conf["spark.sql.adaptive.enabled"] == "true"
    mpb = int(conf[SIZED_SPLITS])
    parts = int(conf["spark.sql.shuffle.partitions"])

    stages = "--stages" in args
    log_dir = tempfile.mkdtemp(prefix="ab_query_log_") if stages else None

    from perfbench import spark_log

    spark = get_spark(
        app_name="ab_query",
        extra_conf=conf | (spark_log.event_log_conf(log_dir) if stages else {}),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    if no_presort:
        from final_project_big_data_spark.plans import ordering

        ordering.range_presorted_for_join = lambda df, build_side, *keys: df

    spec = all_specs()[name]
    samples = []
    last_start = 0.0
    for _ in range(runs):
        last_start = time.time()
        df = spec.builder(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        samples.append(round(time.perf_counter() - t0, 3))
    spark.stop()
    print(
        json.dumps(
            {
                "query": name,
                "aqe": aqe,
                "mpb": mpb,
                "parts": parts,
                "no_presort": no_presort,
                "runs": runs,
                "min": min(samples),
                "samples": samples,
            }
        )
    )
    if stages:
        # the log is complete once the session stops; keep the executions
        # of the final (warmed) run only
        execs = [
            ex for ex in spark_log.read_event_log(log_dir) if ex["start"] >= last_start
        ]
        shutil.rmtree(log_dir, ignore_errors=True)
        layers = spark_log.spark_layers(execs, per=1)
        rounded = {k: round(v, 4) for k, v in layers.items()}
        print(json.dumps({"query": name, "executions": len(execs)} | rounded))
        print(
            spark_log.format_table(
                f"{name}: task time of the final run",
                spark_log.task_time_table(layers),
                layers["spark.task_s"],
            )
        )


if __name__ == "__main__":
    main()
