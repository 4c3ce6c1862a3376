#!/usr/bin/env python
"""Network-gated branch validation on a REAL multi-JVM master (round 13,
VERDICT r12 #3).

The q14 semi branch fires only on a non-local master
(``session.is_local_master``). ``local-cluster[n,c,m]`` launches real
separate executor JVMs whose shuffle crosses the netty transport
(loopback wire + serialization + codec), so it counts as non-local;
combined with ``SPARK_LOCAL_DIRS`` on a real disk this is the closest
one host gets to the cluster regime the gate was written for. q96's
semi gate reads part's on-disk bytes only, not the master.

One (query, mode) per process (round-6 lesson). Prints ONE JSON line:
wall samples, whether the semi marker appears in the plan, whether the
master counts as local, total shuffle bytes written during the final
(warmed) run, and a full oracle value-diff of the result under the SAME
local-cluster session (driver-mimic harness).

Usage::

    python tools/cluster_gate_ab.py QUERY MODE [runs] [sf_dir] [master]

    QUERY: q14_multiway_join | q96_tpch_q2_min_cost (any registry name)
    MODE:  auto    — the gate decides (THE validation cell)
           reorder — q14's semi gate patched off (plain reorder)
           semi    — q14's semi gate patched on
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MODES = ("auto", "reorder", "semi")


def main() -> None:
    query = sys.argv[1]
    mode = sys.argv[2]
    if mode not in _MODES:
        sys.exit(f"MODE must be one of {_MODES}")
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sf_dir = (
        sys.argv[4] if len(sys.argv) > 4 else "/tmp/spark_graft_scale_probe_x100"
    )
    master = sys.argv[5] if len(sys.argv) > 5 else "local-cluster[2,8,2048]"

    # disk shuffle BEFORE the JVMs launch: the validation regime is
    # wire + disk, not the bench's tmpfs (env var so executors inherit it)
    shuffle_dir = os.environ.setdefault(
        "SPARK_LOCAL_DIRS", "/tmp/cluster_gate_shuffle"
    )
    os.makedirs(shuffle_dir, exist_ok=True)

    from final_project_big_data_spark.queries import all_specs, relational
    from final_project_big_data_spark.session import (
        get_spark,
        is_local_master,
        ship_package,
        sized_conf,
    )

    from perfbench import spark_log

    # total executor cores, parsed from the master spec, drive the sized_*
    # rules exactly as a cluster submitter would pass them
    n_exec, cores_per = (int(x) for x in master.split("[")[1].split(",")[:2])
    log_dir = tempfile.mkdtemp(prefix="cluster_gate_log_")
    spark = get_spark(
        app_name=f"cluster_gate_{query}_{mode}",
        master=master,
        extra_conf=sized_conf(sf_dir, cores=n_exec * cores_per)
        | spark_log.event_log_conf(log_dir),  # shuffle bytes per execution
    )
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    if mode != "auto":
        relational._q14_semi = lambda spark, sf: mode == "semi"
    spark.range(1000).selectExpr("sum(id)").collect()

    spec = all_specs()[query]
    df = spec.builder(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )

    samples = []
    last_start = 0.0
    for i in range(runs + 1):  # pass 0 = untimed codegen warmup
        last_start = time.time()
        df = spec.builder(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        if i:
            samples.append(round(time.perf_counter() - t0, 3))
    last_end = time.time()

    # oracle parity under the SAME gated session (the whole point: the
    # branch that actually fired on this master computes the same rows)
    from tests.driver_mimic import compare_driver_style
    from tests.oracle import duckdb_connect

    rep = compare_driver_style(
        spec.builder(spark, sf_dir), duckdb_connect(sf_dir), spec.oracle
    )

    plan_out = os.environ.get("SPARK_GRAFT_PLAN_OUT")
    if plan_out:
        with open(plan_out, "w") as f:
            f.write(plan)
    spark.stop()
    # the log is complete once the session stops; the final run's window
    # excludes the oracle comparison's executions
    shuffle_mb = round(
        sum(
            ex["shuffle_bytes"]
            for ex in spark_log.read_event_log(log_dir)
            if last_start <= ex["start"] <= last_end
        )
        / 1024**2,
        1,
    )
    shutil.rmtree(log_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "query": query,
                "mode": mode,
                "master": master,
                "local_master": is_local_master(master),
                "min": min(samples),
                "samples": samples,
                "semi_in_plan": "LeftSemi" in plan,
                "shuffle_write_mb_last_run": shuffle_mb,
                "oracle_ok": bool(rep["ok"]),
                "oracle_err": rep.get("error"),
            }
        )
    )


if __name__ == "__main__":
    main()
