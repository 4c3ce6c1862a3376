#!/usr/bin/env python
"""Per-query job/stage/task profile of the headline bench shapes.

VERDICT r5 #1: the compute-only Spark/DuckDB gap (2.88x) is dominated by
fixed-overhead shapes (s01 0.196 s vs 0.011, q37 0.185 vs 0.019, ...).
This tool decomposes each headline query's timed noop run into the
scheduler work it actually buys — number of Spark jobs, stages, and
tasks — so "fixed overhead" becomes a measured constant (jobs x
per-job floor) instead of a guess.

Usage::

    python tools/profile_bench.py [sf_dir] [names ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    names = args[1:] or HEADLINE

    from final_project_big_data_spark.queries import all_specs
    from final_project_big_data_spark.session import get_spark, sized_conf

    specs = all_specs()
    # bench-identical session so the job counts decompose the same runs
    spark = get_spark(app_name="profile", extra_conf=sized_conf(sf_dir))
    sc = spark.sparkContext
    spark.range(1000).selectExpr("sum(id)").collect()  # warm codegen path

    print(f"{'query':28s} {'best_s':>7s} {'jobs':>4s} {'stages':>6s} "
          f"{'tasks':>6s}  per-job breakdown (ms)")
    for name in names:
        spec = specs[name]
        # warm run (codegen compile, broadcast warmup) — NOT counted
        spec.builder(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best, best_jobs = float("inf"), []
        for _ in range(3):
            df = spec.builder(spark, sf_dir)
            group = f"prof_{name}_{time.monotonic_ns()}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            jts = sc.statusTracker().getJobIdsForGroup(group)
            sc.setJobGroup("", "")
            if dt < best:
                best, best_jobs = dt, sorted(jts)
        st = sc.statusTracker()
        n_stages = n_tasks = 0
        per_job = []
        for jid in best_jobs:
            ji = st.getJobInfo(jid)
            if ji is None:
                continue
            sids = list(ji.stageIds)
            for sid in sids:
                si = st.getStageInfo(sid)
                if si is not None:
                    n_tasks += si.numTasks
                    n_stages += 1
            per_job.append(f"j{jid}:{len(sids)}st")
        print(f"{name:28s} {best:7.3f} {len(best_jobs):4d} {n_stages:6d} "
              f"{n_tasks:6d}  {' '.join(per_job)}")
    spark.stop()


if __name__ == "__main__":
    main()
