"""CBO statistics + join-reorder pins (round 11, SURVEY §4.2's last row).

The claim under test: with catalog stats, the cost-based optimizer makes
a join-ORDER change that AQE alone never does — AQE re-plans strategies
and partition counts per stage at runtime, but the join order is fixed
by the logical optimizer before the first stage runs.
"""

from __future__ import annotations

import os
import re

import pytest

from final_project_big_data_spark.io import register_stats_tables
from final_project_big_data_spark.queries import all_specs
from final_project_big_data_spark.queries.layout import _CBO_TABLES, _q113_sql


def _join_order(df) -> list[str]:
    """Relation names in optimized-plan (left-deep) order."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    return re.findall(r"Relation spark_catalog\.\w+\.(\w+)", s)


def test_analyze_collects_stats(spark, sf_dir):
    db = register_stats_tables(spark, sf_dir, list(_CBO_TABLES))
    # re-entry is a no-op (the driver invokes builders twice)
    assert register_stats_tables(spark, sf_dir, list(_CBO_TABLES)) == db
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.part").collect()
    stats = [r.data_type for r in rows if r.col_name == "Statistics"]
    assert stats and "rows" in stats[0], stats


def test_cbo_reorders_where_aqe_does_not(spark, sf_dir):
    db = register_stats_tables(spark, sf_dir, list(_CBO_TABLES))
    sql = _q113_sql(f"{db}.")
    # AQE is ON in both runs — the reorder below is CBO's alone
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.cbo.enabled", "false") == "false"
    syntactic = _join_order(spark.sql(sql))
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        reordered = _join_order(spark.sql(sql))
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    # without stats-based reorder the optimizer keeps the written order:
    # the selective LIKE-filtered part dim joins AFTER the orders fact
    assert syntactic.index("part") > syntactic.index("orders"), syntactic
    # CBO moves the selective dim below the fact-fact join
    assert reordered.index("part") < reordered.index("orders"), reordered
    assert set(syntactic) == set(reordered) == set(_CBO_TABLES)


def test_cbo_optimizes_date_filtered_join(spark, sf_dir):
    """A TIMESTAMP_NTZ date filter over the stats tables must optimize
    under CBO + join reorder. The fixtures' dates read as NTZ, and
    Spark's CBO filter estimator has no case for NTZ column stats
    (``MatchError: TimestampNTZType``), so those columns get none."""
    db = register_stats_tables(spark, sf_dir, list(_CBO_TABLES))
    sql = f"""
        SELECT count(*) AS n
        FROM {db}.lineitem l
        JOIN {db}.orders o ON l.l_orderkey = o.o_orderkey
        JOIN {db}.supplier s ON l.l_suppkey = s.s_suppkey
        WHERE CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
    """
    plain = spark.sql(sql).first().n
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        df = spark.sql(sql)
        order = _join_order(df)
        got = df.first().n
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    assert set(order) == {"lineitem", "orders", "supplier"}, order
    assert got == plain > 0


def test_stats_snapshot_with_ntz_columns_is_not_restored(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A snapshot taken by the old ANALYZE FOR ALL COLUMNS carries NTZ
    column stats; restoring it would bring the CBO crash back, so it is
    re-ANALYZEd instead."""
    import json
    import shutil

    import final_project_big_data_spark.io as io

    monkeypatch.setenv("SPARK_GRAFT_STATS_DIR", str(tmp_path / "stats"))
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(os.path.join(sf_dir, "orders.parquet"), sf / "orders.parquet")
    analyze = io._analyze
    monkeypatch.setattr(
        io,
        "_analyze",
        lambda s, full: s.sql(f"ANALYZE TABLE {full} COMPUTE STATISTICS FOR ALL COLUMNS"),
    )
    db = register_stats_tables(spark, str(sf), ["orders"])
    try:
        snap = io._stats_path(str(sf), "orders")
        with open(snap) as f:
            assert "o_orderdate" in json.load(f)["columns"]
        spark.sql(f"DROP TABLE {db}.orders")
        monkeypatch.setattr(io, "_analyze", analyze)
        register_stats_tables(spark, str(sf), ["orders"])
        with open(snap) as f:
            cols = json.load(f)["columns"]
        assert "o_orderdate" not in cols and "o_orderkey" in cols, cols
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_q113_result_invariant_under_reorder(spark, sf_dir):
    """q113's eager-CBO result == the same SQL with CBO off (join order
    must never change values), and the builder leaves the session confs
    untouched."""
    spec = all_specs()["q113_cbo_join_reorder"]
    got = sorted(map(tuple, spec.builder(spark, sf_dir).collect()))
    assert spark.conf.get("spark.sql.cbo.enabled", "false") == "false"
    db = register_stats_tables(spark, sf_dir, list(_CBO_TABLES))
    plain = sorted(map(tuple, spark.sql(_q113_sql(f"{db}.")).collect()))
    assert got == plain and len(got) > 0


@pytest.mark.parametrize("bad_conf", ["true"])
def test_q113_restores_confs_on_error(spark, sf_dir, monkeypatch, bad_conf):
    """Conf restoration is try/finally — even a failing plan leaves the
    shared session CBO-off."""
    import final_project_big_data_spark.queries.layout as L

    monkeypatch.setattr(
        L, "_q113_sql", lambda prefix="": "SELECT * FROM nonexistent_q113"
    )
    spec = all_specs()["q113_cbo_join_reorder"]
    with pytest.raises(Exception):
        spec.builder(spark, sf_dir)
    assert spark.conf.get("spark.sql.cbo.enabled", "false") == "false"


def test_stats_snapshot_restores_without_reanalyze(spark, sf_dir, monkeypatch):
    """Round 12 (VERDICT r11 #3): the ANALYZE results must survive session
    restart. First registration snapshots to spark-warehouse/stats/; a
    catalog wiped of the tables (what a NEW session's in-memory catalog
    looks like) must re-register from the snapshot with ANALYZE
    monkeypatched to explode — stats present, CBO reorder available,
    zero scans."""
    import final_project_big_data_spark.io as io

    db = register_stats_tables(spark, sf_dir, list(_CBO_TABLES))  # snapshots
    for t in _CBO_TABLES:
        assert os.path.exists(io._stats_path(sf_dir, t)), t
        spark.sql(f"DROP TABLE {db}.{t}")

    def boom(*a, **k):  # the restore path must never scan
        raise AssertionError("ANALYZE ran on the restore path")

    monkeypatch.setattr(io, "_analyze", boom)
    db2 = register_stats_tables(spark, sf_dir, list(_CBO_TABLES))
    assert db2 == db
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.part").collect()
    stats = [r.data_type for r in rows if r.col_name == "Statistics"]
    assert stats and "rows" in stats[0], stats
    # the restored stats drive the same CBO join reorder ANALYZE did
    sql = _q113_sql(f"{db}.")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        reordered = _join_order(spark.sql(sql))
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    assert reordered.index("part") < reordered.index("orders"), reordered


def test_stats_snapshot_of_rewritten_table_is_not_restored(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A fixture regenerated at the same path must not get the old
    snapshot's row counts: the snapshot carries its data files'
    (path, size, mtime) and a mismatch re-ANALYZEs."""
    import shutil

    import pyarrow.parquet as pq

    monkeypatch.setenv("SPARK_GRAFT_STATS_DIR", str(tmp_path / "stats"))
    sf = tmp_path / "sf"
    sf.mkdir()
    path = sf / "nation.parquet"
    shutil.copyfile(os.path.join(sf_dir, "nation.parquet"), path)

    def row_count(db: str) -> int:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.nation").collect()
        [stats] = [r.data_type for r in rows if r.col_name == "Statistics"]
        return int(re.search(r"(\d+) rows", stats).group(1))

    db = register_stats_tables(spark, str(sf), ["nation"])
    try:
        assert row_count(db) == 25
        pq.write_table(pq.read_table(path).slice(0, 7), path)
        spark.sql(f"DROP TABLE {db}.nation")
        assert register_stats_tables(spark, str(sf), ["nation"]) == db
        assert row_count(db) == 7
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
