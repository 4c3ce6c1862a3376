#!/usr/bin/env python
"""Fresh-process single-query bench A/B harness.

Round-6 lesson (SCALE.md, memory): Spark perf knobs must NEVER be A/B'd
by looping configs inside one Python process — `spark.stop()` keeps the
JVM and JIT warm-up makes every later config look faster. This tool runs
ONE config in ONE process and prints one JSON line; a driver script runs
it serially, one process per (config, repetition).

Usage::

    python tools/ab_query.py QUERY [--aqe=on|off] [--mpb=BYTES]
        [--parts=N] [--runs=N] [--sf=DIR] [--no-presort]

Defaults mirror bench.py's shipping session exactly (``session.sized_conf``),
so `python tools/ab_query.py q06_join_inner` reproduces the BENCH number
for that query; each flag overrides exactly one knob for attribution.
``--no-presort`` patches the cost-based range presort
(plans.ordering.range_presorted_for_join) to never presort, isolating
the query-shape lever from the session levers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rest_stages(spark):
    """All stages from the live UI REST API (spark.ui.enabled=true)."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _max_stage_id(spark) -> int:
    try:
        return max((s["stageId"] for s in _rest_stages(spark)), default=-1)
    except Exception:  # noqa: BLE001 — UI off or not ready
        return -1


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

    spark = get_spark(
        app_name="ab_query",
        # the REST stage table is how --stages reads per-stage wall time
        # and shuffle bytes; off otherwise (bench parity)
        extra_conf=conf | {"spark.ui.enabled": str(stages).lower()},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    if no_presort:
        from final_project_big_data_spark.plans import ordering

        ordering.range_presorted_for_join = lambda df, build_side, *keys: df

    spec = all_specs()[name]
    samples = []
    stage_floor = 0
    sc = spark.sparkContext
    for i in range(runs):
        if stages and i == runs - 1:
            # stage-id watermark: the dump below covers EXACTLY the
            # final (warmed) run
            stage_floor = _max_stage_id(spark) + 1
        df = spec.builder(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        samples.append(round(time.perf_counter() - t0, 3))
    tracker = sc.statusTracker()
    n_jobs = len(tracker.getJobIdsForGroup(None) or [])
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
                "jobs_total": n_jobs,
            }
        )
    )
    if stages:
        for s in sorted(_rest_stages(spark), key=lambda s: s["stageId"]):
            if s["stageId"] < stage_floor:
                continue
            dur = (s.get("executorRunTime") or 0) / 1000.0
            print(
                json.dumps(
                    {
                        "stage": s["stageId"],
                        "name": s.get("name", "")[:70],
                        "tasks": s.get("numCompleteTasks"),
                        "exec_run_s": round(dur, 3),
                        "input_mb": round(
                            (s.get("inputBytes") or 0) / 1048576, 2
                        ),
                        "sh_write_mb": round(
                            (s.get("shuffleWriteBytes") or 0) / 1048576, 2
                        ),
                        "sh_read_mb": round(
                            (s.get("shuffleReadBytes") or 0) / 1048576, 2
                        ),
                    }
                )
            )
    spark.stop()


if __name__ == "__main__":
    main()
