#!/usr/bin/env python
"""local-cluster smoke: serialization boundaries the local[*] suite hides.

Everything in tests/ runs under local[*], where driver and "executors"
share one JVM and one Python worker pool — executor-side pickling,
broadcast transport and addPyFile shipping are never truly exercised
(the Arrow-empty-pandas class of round 7 was exactly such a bug).
local-cluster[2,4,4096] launches two REAL executor JVMs with their own
Python workers, so every closure, broadcast knob row, and the shipped
package zip must actually cross a process boundary.

Run via pytest (tests/test_local_cluster.py spawns this as a
subprocess — a second master cannot share the suite's SparkContext) or
directly:

    python tools/local_cluster_smoke.py [sf_dir]

Prints one JSON line {"ok": true, "queries": N, "rows": {...}} and
exits 0 on success. Scope: the 11 headline builders (collected, not
noop-sunk — row transport IS the boundary under test) plus one
applyInPandas kernel (the round-8 pair kernel, forced on) and one
broadcast-knob query (d03's derived banding).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

from bench import HEADLINE  # noqa: E402


def main() -> None:
    from final_project_big_data_spark.session import get_spark, ship_package

    spark = get_spark(
        app_name="local_cluster_smoke",
        master="local-cluster[2,4,4096]",
        shuffle_partitions=8,
    )
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)  # executors are separate JVMs: the zip must ship

    from final_project_big_data_spark.queries import all_specs

    specs = all_specs()
    rows: dict[str, int] = {}
    for name in HEADLINE:
        rows[name] = len(specs[name].builder(spark, SF).collect())
        assert rows[name] > 0, name

    # the Arrow/applyInPandas boundary: force the NumPy pair kernel so a
    # grouped-map UDF actually runs on a remote executor python worker
    from final_project_big_data_spark.operators import vector

    vector.pair_kernel = lambda sf_dir, table="embeddings": "np"
    rows["s04_knn_self_join[np]"] = len(
        specs["s04_knn_self_join"].builder(spark, SF).collect()
    )
    assert rows["s04_knn_self_join[np]"] > 0

    # the iterative/checkpoint path (r9): connected_components' eager
    # localCheckpoint stores blocks on REAL executor BlockManagers here
    # (local[*] hides that round-trip), and x08's struct-ranked joins
    # serialize struct comparators across the wire
    for name in ("d13_dedup_apply", "x08_triangle_count"):
        rows[name] = len(specs[name].builder(spark, SF).collect())
        assert rows[name] > 0, name

    print(json.dumps({"ok": True, "queries": len(rows), "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
