#!/usr/bin/env python
"""q14 join-order / fact-reduction A/B (round 12, guide §3.2).

The shipping join-first shape shuffles the FULL filtered lineitem
(~107M rows at 1000×) although the customer BUILDING filter — 5×
selective — kills 4/5 of those rows at the LAST join. These shapes test
moving that selectivity ahead of the fact shuffle:

- ``joinagg``  — shipping registry shape: (li ⋈ o) ⋈ c → agg.
- ``reorder``  — li ⋈ (o ⋈ c) → agg; no hints. The dim⋈dim runs first
  (customer broadcast onto orders), so the orderkey side the fact joins
  is already 5× reduced; the fact exchange is unchanged.
- ``bcast``    — reorder + explicit broadcast(o⋈c): the fact is never
  exchanged for the join; only the ~1/5 surviving rows reach the agg
  exchange.
- ``semi``     — reorder + broadcast LEFT SEMI of the fact against the
  (o⋈c) orderkey set before the shuffle join: the fact exchange carries
  only surviving rows, the join itself stays a shuffle join (the
  100 TB-safe variant of bcast when keys fit and payload does not).
- ``bloom``    — joinagg with Spark's runtime Bloom-filter injection
  thresholds opened up (creationSideThreshold 512m, application side 0)
  so the optimizer may inject might_contain on the fact scan itself.

One shape per process (fresh-process rule); prints wall min + per-stage
shuffle bytes from the UI REST API.

Usage:: python tools/q14_semi.py SHAPE [sf_dir] [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from final_project_big_data_spark.io import load_table  # noqa: E402


def _tables(spark, sf):
    c = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date")
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1998-01-01").cast("date")
    )
    return c, o, li


def _tail(joined):
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(20)
    )


def build(shape: str, spark, sf: str):
    if shape == "registry":
        from final_project_big_data_spark.queries import all_specs

        return all_specs()["q14_multiway_join"].builder(spark, sf)
    c, o, li = _tables(spark, sf)
    if shape in ("joinagg", "bloom"):
        joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
            c, F.col("c_custkey") == F.col("o_custkey")
        )
        return _tail(joined)
    oc = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    if shape == "reorder":
        return _tail(li.join(oc, F.col("l_orderkey") == F.col("o_orderkey")))
    if shape == "bcast":
        return _tail(
            li.join(F.broadcast(oc), F.col("l_orderkey") == F.col("o_orderkey"))
        )
    if shape == "semi":
        keys = oc.select(F.col("o_orderkey").alias("_sk"))
        li_f = li.join(
            F.broadcast(keys), F.col("l_orderkey") == F.col("_sk"), "leftsemi"
        )
        return _tail(li_f.join(oc, F.col("l_orderkey") == F.col("o_orderkey")))
    raise SystemExit(f"unknown shape {shape}")


def main() -> None:
    shape = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_scale_probe_x100"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from final_project_big_data_spark.session import (
        get_spark,
        sized_adaptive_enabled,
        sized_driver_memory,
        sized_max_partition_bytes,
        sized_shuffle_partitions,
    )

    extra = {
        "spark.sql.files.maxPartitionBytes": str(sized_max_partition_bytes(sf)),
        "spark.sql.adaptive.enabled": str(sized_adaptive_enabled(sf)).lower(),
        "spark.driver.memory": sized_driver_memory(sf),
        "spark.ui.enabled": "true",
    }
    # shuffle-medium matrix knob: SPARK_LOCAL_DIRS picks tmpfs vs disk,
    # this turns the wire-like codec on
    if os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS") == "1":
        extra.update(
            {
                "spark.shuffle.compress": "true",
                "spark.shuffle.spill.compress": "true",
            }
        )
    if shape == "bloom":
        extra.update(
            {
                "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
                "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "512MB",
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            }
        )
    spark = get_spark(
        app_name="q14_semi",
        shuffle_partitions=sized_shuffle_partitions(sf),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    samples = []
    for _ in range(runs):
        df = build(shape, spark, sf)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        samples.append(round(time.perf_counter() - t0, 2))

    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    has_bloom = "might_contain" in plan or "bloom_filter" in plan

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    sh_w = sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20
    print(
        json.dumps(
            {
                "shape": shape,
                "sf": sf,
                "min": min(samples),
                "samples": samples,
                "total_shuffle_write_mb_all_runs": round(sh_w, 1),
                "bloom_in_plan": has_bloom,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
