"""Global-index / sharding operator invariants (operators/indexing.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.operators.indexing import (
    with_global_index,
    with_shard,
)


def test_global_index_matches_single_window(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    got = {
        r.doc_id: r.row_index
        for r in with_global_index(d, ["n_chars", "doc_id"]).collect()
    }
    want = {
        r.doc_id: r.idx
        for r in d.select(
            "doc_id",
            (F.row_number().over(W.orderBy("n_chars", "doc_id")) - 1).alias("idx"),
        ).collect()
    }
    assert got == want


def test_global_index_dense_across_partitions(spark):
    # force many range partitions so prefix offsets actually matter
    df = spark.range(0, 10_000).repartition(16).select(F.col("id").alias("k"))
    idx = sorted(
        r.row_index for r in with_global_index(df, ["k"]).collect()
    )
    assert idx == list(range(10_000))


def test_global_index_descending_order(spark):
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    rows = with_global_index(df, [F.desc("k")]).collect()
    assert all(r.row_index == 99 - r.k for r in rows)


def test_shard_assignment_stable_and_balanced(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    a = with_shard(d, "doc_id", 8).select("doc_id", "shard")
    b = with_shard(d.repartition(13), "doc_id", 8).select("doc_id", "shard")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    per = dict(
        a.groupBy("shard").count().rdd.map(lambda r: (r["shard"], r["count"])).collect()
    )
    n = sum(per.values())
    assert set(per) == set(range(8))
    assert max(per.values()) < 2 * n / 8  # no degenerate shard


def test_pagerank_two_node_cycle_is_stationary(spark):
    """a→b→a: the uniform distribution is the fixed point — ranks must
    stay exactly (0.5, 0.5) through every iteration."""
    from final_project_big_data_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r.node: r.rank for r in pagerank(edges, n_iter=3).collect()}
    assert got == {1: 0.5, 2: 0.5}


def test_pagerank_sink_absorbs_rank(spark):
    """Star into a sink: the center node's rank must exceed the leaves',
    and every rank stays in (0, 1] with total mass ≤ 1 (dangling mass is
    dropped, so strict conservation isn't expected)."""
    from final_project_big_data_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long"
    )
    rows = {r.node: r.rank for r in pagerank(edges, n_iter=5).collect()}
    assert rows[0] > max(v for k, v in rows.items() if k != 0)
    assert all(0 < v <= 1 for v in rows.values())
    assert sum(rows.values()) <= 1.0 + 1e-9


@pytest.mark.parametrize("n_rows,n_tiles", [(10, 4), (7, 3), (3, 4), (100, 7)])
def test_with_ntile_matches_closed_form(spark, n_rows, n_tiles):
    """Exact ntile semantics at awkward (rows, tiles) shapes incl.
    rows < tiles: tile sizes differ by at most 1, larger tiles first,
    assignment monotone in the ordering."""
    from collections import Counter

    from final_project_big_data_spark.operators.indexing import with_ntile

    df = spark.range(n_rows).withColumnRenamed("id", "k")
    rows = sorted(
        (r.k, r.tile)
        for r in with_ntile(df, ["k"], n_tiles, tile_col="tile").collect()
    )
    tiles = [t for _, t in rows]
    assert tiles == sorted(tiles)  # monotone in the global order
    sizes = Counter(tiles)
    assert sum(sizes.values()) == n_rows
    big, small = n_rows // n_tiles + 1, n_rows // n_tiles
    rem = n_rows % n_tiles
    for tile, size in sizes.items():
        assert size == (big if tile <= rem else small), (tile, size)


def test_prefix_sum_matches_single_window(spark):
    """with_prefix_sum == the unpartitioned-window spelling it replaces,
    across multiple physical partitions and duplicate-free ordering."""
    from pyspark.sql import Window as W, functions as F

    from final_project_big_data_spark.operators.indexing import with_prefix_sum

    df = (
        spark.range(0, 500, 1, 8)
        .select(
            F.col("id").alias("k"),
            (F.pmod(F.col("id") * 37, F.lit(11)) + 1).alias("v"),
        )
    )
    got = {
        r.k: r.ps
        for r in with_prefix_sum(df, ["k"], "v", sum_col="ps").collect()
    }
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, -1)
    want = {
        r.k: r.ps
        for r in df.withColumn(
            "ps", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long")
        ).collect()
    }
    assert got == want


def test_prefix_sum_no_single_partition_full_data_window(spark, sf_dir):
    """The t11 plan must carry NO unpartitioned window over the data:
    every windowspecdefinition in the physical plan is partitioned (the
    single-reducer cliff this operator exists to avoid)."""
    from final_project_big_data_spark.queries import all_specs

    df = all_specs()["t11_sequence_packing"].builder(spark, sf_dir)
    p = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for line in p.splitlines():
        if "windowspecdefinition(" in line:
            # partitioned windows list partition cols before the ORDER BY
            # spec; an unpartitioned one starts the spec with the sort col
            assert "_gidx_pid" in line, line


def test_prefix_sum_all_null_partition_does_not_poison(spark):
    """Regression: a range partition whose value column is entirely NULL
    must contribute 0 to downstream offsets, matching the NULL-skipping
    window spelling — not propagate NULL through the offset fold."""
    from pyspark.sql import Window as W, functions as F

    from final_project_big_data_spark.operators.indexing import with_prefix_sum

    df = spark.range(0, 4000, 1, 8).select(
        F.col("id").alias("k"),
        F.when(F.col("id") >= 1500, F.lit(2)).alias("v"),  # ids <1500 NULL
    )
    got = {r.k: r.ps for r in with_prefix_sum(df, ["k"], "v", sum_col="ps").collect()}
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, -1)
    want = {
        r.k: r.ps
        for r in df.withColumn(
            "ps", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long")
        ).collect()
    }
    assert got == want
    assert got[3999] == 2 * (3999 - 1500)  # later partitions saw real sums


def test_global_index_consistent_across_plan_subtrees_at_volume(spark, sf_dir):
    """Round-11 regression: the pid-count branch and the main join branch
    of with_global_index reference the same range exchange from TWO plan
    subtrees, and RangePartitioner samples its boundaries with an
    RDD-id-derived seed — once the sample is PARTIAL (never at fixture
    scale, always at volume) the subtrees could land different
    boundaries and the pid-keyed offsets inner join silently dropped
    rows (65% lost at the 1000× replay build). The persist() pin must
    hold the row count and the exact ntile split at a volume where
    sampling is partial (200k rows reproduced the corruption before the
    fix)."""
    from pyspark.sql import functions as F

    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.operators.indexing import with_ntile

    base = load_table(spark, sf_dir, "events")
    scaled = (
        base.withColumn("c", F.explode(F.sequence(F.lit(0), F.lit(199))))
        .select(
            (F.col("event_id") + F.col("c") * 10_000_000).alias("event_id"),
            "ts",
        )
        .repartition(32)
    )
    n = scaled.count()
    assert n >= 100_000  # partial-sampling regime
    tiled = with_ntile(scaled, ["ts", "event_id"], 6, tile_col="_b")
    # the failing shape: a second shuffle + aggregation over the tiled
    # frame (re-executes the subtree exactly like the partitioned write)
    got = dict(
        (r["_b"], r["count"])
        for r in tiled.repartition(6, "_b").groupBy("_b").count().collect()
    )
    assert sum(got.values()) == n, got
    big, small = n // 6 + 1, n // 6
    assert all(v in (big, small) for v in got.values()), got
    assert set(got) == {1, 2, 3, 4, 5, 6}, got


def test_index_pin_scope_releases_blocks(spark):
    """Round 12 (VERDICT r11 #5): pins created inside index_pin_scope are
    released on exit — zero persisted RDDs afterwards — while the pin
    stays alive THROUGH the caller's action inside the scope (the r11
    correctness requirement)."""
    from final_project_big_data_spark.operators.indexing import (
        index_pin_scope,
        with_global_index,
    )

    import time

    sc = spark.sparkContext._jsc.sc()
    baseline = len(sc.getRDDStorageInfo())  # other tests' pins on the
    # shared session await the periodic ContextCleaner; only OUR delta
    # must return to zero
    df = spark.range(0, 50_000).repartition(8).withColumnRenamed("id", "k")
    with index_pin_scope():
        idx = with_global_index(df, ["k"])
        n = idx.count()  # action INSIDE the scope materializes the pin
        assert n == 50_000
        assert len(sc.getRDDStorageInfo()) >= baseline + 1
    for _ in range(50):  # unpersist(blocking=False) → briefly async
        if len(sc.getRDDStorageInfo()) <= baseline:
            break
        time.sleep(0.1)
    assert len(sc.getRDDStorageInfo()) <= baseline


@pytest.mark.parametrize("table", ["events", "documents"])
def test_replay_dir_holds_no_storage(spark, sf_dir, tmp_path, table):
    """The eager internal call site (the streaming replay writer) is
    scoped for every replayable table: no NEW persisted RDDs after it
    returns."""
    import time

    from final_project_big_data_spark.streaming.pipeline import replay_dir

    sc = spark.sparkContext._jsc.sc()
    baseline = len(sc.getRDDStorageInfo())
    replay_dir(spark, sf_dir, str(tmp_path / "replay"), n_batches=3, table=table)
    for _ in range(50):
        if len(sc.getRDDStorageInfo()) <= baseline:
            break
        time.sleep(0.1)
    assert len(sc.getRDDStorageInfo()) <= baseline
