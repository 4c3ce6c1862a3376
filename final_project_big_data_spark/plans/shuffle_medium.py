"""Shuffle-medium sniffing — what does a shuffled byte actually cost here?

q14's semi-prefilter gate fires only where a shuffled byte crosses a
network (OPTIMIZATION_r12.md §q14). Local-mode resolution order mirrors
Spark's own: ``SPARK_LOCAL_DIRS`` env overrides ``spark.local.dir`` conf
overrides ``/tmp``. The mount's filesystem type comes from
``/proc/mounts`` by longest-prefix match — the same answer ``df`` gives,
no syscalls beyond one file read.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from final_project_big_data_spark.session import is_local_master


def shuffle_medium(spark: SparkSession) -> str:
    """``"network"`` (non-local master — shuffle crosses executors),
    ``"ram"`` (local dir on tmpfs/ramfs), or ``"disk"``.

    ``local-cluster[n,c,m]`` counts as network (see ``is_local_master``):
    its shuffle pays serialization + transport cost like any cluster,
    just over loopback."""
    if not is_local_master(spark.sparkContext.master):
        return "network"
    d = (
        os.environ.get("SPARK_LOCAL_DIRS")
        or spark.conf.get("spark.local.dir", "/tmp")
    ).split(",")[0]
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) < 3:
                    continue
                mp, fs = parts[1], parts[2]
                if (d == mp or d.startswith(mp.rstrip("/") + "/") or mp == "/") and len(
                    mp
                ) >= len(best):
                    best, fstype = mp, fs
    except OSError:
        return "disk"  # can't tell → assume bytes cost something
    return "ram" if fstype in ("tmpfs", "ramfs", "devtmpfs") else "disk"
