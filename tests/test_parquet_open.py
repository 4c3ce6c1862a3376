"""``io.read_parquet``: a parquet open that reads the footer on the driver
instead of running Spark's schema-inference job. It must launch no job,
return exactly the schema inference returns, and plan the scan exactly as
the plain read does."""

from __future__ import annotations

import itertools
import os
import re

import pytest
from pyspark.sql import functions as F

from final_project_big_data_spark import io
from final_project_big_data_spark.io import load_table, read_parquet
from final_project_big_data_spark.schemas import TABLE_NAMES


def _sf001(sf_dir: str) -> str:
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


_GROUPS = itertools.count()


def _jobs_launched(spark, action) -> int:
    """Spark jobs ``action()`` launches from this thread."""
    sc = spark.sparkContext
    group = f"parquet-open-{next(_GROUPS)}"
    sc.setJobGroup(group, "count jobs")
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    """Executed plan with expression and exchange plan ids masked."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", plan))


def test_opening_every_table_launches_no_job(spark, sf_dir):
    fresh = spark.newSession()  # no cached frames, confs not yet pinned
    path = io.table_path(sf_dir, "region")
    # the counter sees the inference job the plain read launches
    assert _jobs_launched(fresh, lambda: fresh.read.parquet(path)) >= 1
    n = _jobs_launched(
        fresh, lambda: [load_table(fresh, sf_dir, t) for t in TABLE_NAMES]
    )
    assert n == 0


def _spark_multipart(spark, tmp_path) -> str:
    path = str(tmp_path / "multipart")
    df = spark.range(300).selectExpr("id", "cast(id as double) / 7 as x")
    df.repartition(3).write.parquet(path)
    return path


def _spark_partitioned(spark, tmp_path) -> str:
    path = str(tmp_path / "partitioned")
    df = spark.range(60).selectExpr("id", "id % 3 as k", "cast(id as string) as s")
    df.write.partitionBy("k").parquet(path)
    return path


def _arrow_nanos(spark, tmp_path) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001])
    ts = ts.cast(pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "v": [1, 2]}), path, version="2.6")
    return path


@pytest.mark.parametrize(
    "layout",
    [*TABLE_NAMES, "spark_multipart", "spark_partitioned", "arrow_nanos"],
)
def test_schema_matches_inference(spark, sf_dir, tmp_path, layout):
    """Fixture tables (sf0.01), a Spark-written 3-part directory, a
    ``partitionBy`` directory (the partition column is still discovered),
    and a pyarrow ``timestamp[ns]`` file (still ``bigint`` under
    ``nanosAsLong``)."""
    make = {
        "spark_multipart": _spark_multipart,
        "spark_partitioned": _spark_partitioned,
        "arrow_nanos": _arrow_nanos,
    }.get(layout)
    if make is None:
        path = io.table_path(_sf001(sf_dir), layout)
    else:
        path = make(spark, tmp_path)
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    got = read_parquet(fresh, path).schema
    assert got == fresh.read.parquet(path).schema
    if layout == "spark_partitioned":
        assert "k" in got.fieldNames()
    if layout == "arrow_nanos":
        assert dict(read_parquet(fresh, path).dtypes)["ts"] == "bigint"


def test_partition_filter_prunes_as_plain_read(spark, tmp_path):
    path = _spark_partitioned(spark, tmp_path)
    ours, plain = (
        df.filter(F.col("k") == 1).select("id", "s")
        for df in (read_parquet(spark, path), spark.read.parquet(path))
    )
    assert _plan(ours) == _plan(plain)
    assert "PartitionFilters: [isnotnull(k#), (k# = 1)]" in _plan(ours)
    assert sorted(r.id for r in ours.collect()) == list(range(1, 60, 3))


def test_q02_pushed_filters_match_plain_read(spark, sf_dir, monkeypatch):
    """q02's ``l_quantity > 30`` is planned identically whether the scan
    got the footer schema or an inferred one, ``PushedFilters`` included."""
    from final_project_big_data_spark.queries import all_specs

    q02 = all_specs()["q02_filter_compare"].builder
    sf = _sf001(sf_dir)
    ours = _plan(q02(spark.newSession(), sf))
    monkeypatch.setattr(io, "read_parquet", lambda s, p: s.read.parquet(p))
    plain = _plan(q02(spark.newSession(), sf))
    assert ours == plain
    pushed = "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"
    assert pushed in ours
