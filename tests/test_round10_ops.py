"""Round-10 pins: ADVICE-r9 fixes (p04 deterministic rates, d14 linear
chunk extraction) stay fixed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from final_project_big_data_spark.queries import all_specs


@pytest.fixture(scope="module")
def specs():
    return all_specs()


# ------------------------------------------------------------------- p04
# Rates are now derived on the driver in sorted-lang order (left-to-right
# float accumulation), so the resample is bit-stable under any input
# partitioning — the distributed-float-sum threshold flip ADVICE r9
# flagged is structurally gone.


def test_p04_partitioning_invariance(spark, sf_dir, specs):
    build = specs["p04_temperature_resample"].builder
    a = build(spark, sf_dir).collect()
    # different shuffle width must not move a single doc across the
    # fractional-epoch threshold
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = build(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b
    # budget conservation: sum(n_out) ~ corpus size up to the binomial
    # noise of the per-doc fractional-epoch coin (sigma <= sqrt(n)/2)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_out = sum(r["n_out"] for r in a)
    assert abs(n_out - n_docs) <= 5 * (n_docs**0.5)


# ------------------------------------------------------------------- d14
# The chunk-extraction refactor (cdc_ends materialized once per row,
# ADVICE r9) must not change a single chunk boundary.


def test_d14_oracle_green_after_refactor(spark, sf_dir, specs, duck):
    from tests.oracle import compare

    spec = specs["d14_cdc_chunks"]
    report = compare(spec.builder(spark, sf_dir), duck, spec.oracle)
    assert report["ok"], report


# ------------------------------------------ incremental index maintenance
# VERDICT r9 #6: append paths for the persisted indexes with row-identity
# pins — append(A, B) == fresh(A ∪ B) — plus compaction when appends
# fragment the partition directories.


def _embeddings(spark, sf_dir):
    from final_project_big_data_spark.io import load_table

    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_lsh_append_equals_fresh(spark, sf_dir, tmp_path):
    from final_project_big_data_spark.operators.ivf_index import (
        append_to_lsh_index,
        save_lsh_index,
    )
    from pyspark.sql import functions as F2

    inc, fresh = str(tmp_path / "inc"), str(tmp_path / "fresh")
    save_lsh_index(spark, sf_dir, inc, where=F2.expr("vec_id % 2 = 0"))
    append_to_lsh_index(
        spark, inc, _embeddings(spark, sf_dir).filter("vec_id % 2 = 1")
    )
    save_lsh_index(spark, sf_dir, fresh)
    cols = ["vec_id", "bucket", "nv"]
    got = _rows(spark.read.parquet(f"{inc}/tables"), cols)
    want = _rows(spark.read.parquet(f"{fresh}/tables"), cols)
    assert got == want  # row-identical, not merely same query results


def test_ivf_append_equals_one_shot_assignment(spark, sf_dir, tmp_path):
    from final_project_big_data_spark.operators.ivf_index import (
        append_to_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )
    from final_project_big_data_spark.operators.vector import _hof_assign, dot_fold
    from pyspark.sql import functions as F2

    inc = str(tmp_path / "inc")
    save_ivf_index(spark, sf_dir, inc, where=F2.expr("vec_id % 2 = 0"))
    append_to_ivf_index(
        spark, inc, _embeddings(spark, sf_dir).filter("vec_id % 2 = 1")
    )
    cents, assigned, _ = load_ivf_index(spark, inc)
    # one-shot: the FULL corpus assigned against the SAME frozen centroids
    en = (
        _embeddings(spark, sf_dir)
        .select(
            "vec_id",
            F2.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("nv", F2.sqrt(dot_fold(F2.col("v"), F2.col("v"))))
    )
    want = _hof_assign(en, cents.select("centroid_id", "cv", "nc"))
    cols = ["vec_id", "centroid_id"]
    assert _rows(assigned, cols) == _rows(want, cols)


def test_ivf_append_follows_pair_kernel(spark, sf_dir, tmp_path, monkeypatch):
    """Appends pick their assign kernel with ``pair_kernel`` on the
    postings, as the index build does on the corpus: forced to "np", the
    written batch's plan carries the cogrouped NumPy assign, and the
    appended postings are row-identical to the interpreted-fold append."""
    import shutil

    from final_project_big_data_spark.operators import vector as V
    from final_project_big_data_spark.operators.ivf_index import (
        append_to_ivf_index,
        save_ivf_index,
    )

    base = str(tmp_path / "base")
    save_ivf_index(spark, sf_dir, base, where=F.expr("vec_id % 2 = 0"))
    frame_cls = type(spark.range(1))
    plain_write = frame_cls.write
    written = []
    monkeypatch.setattr(
        frame_cls,
        "write",
        property(lambda df: written.append(df) or plain_write.fget(df)),
    )
    postings = {}
    for kern in ("join", "np"):
        monkeypatch.setattr(V, "pair_kernel", lambda path: kern)
        idx = str(tmp_path / kern)
        shutil.copytree(base, idx)
        append_to_ivf_index(
            spark, idx, _embeddings(spark, sf_dir).filter("vec_id % 2 = 1")
        )
        plan = written[-1]._jdf.queryExecution().logical().toString()
        assert ("FlatMapCoGroupsInPandas" in plan) == (kern == "np"), kern
        postings[kern] = _rows(
            spark.read.parquet(f"{idx}/postings"), ["vec_id", "centroid_id", "nv", "v"]
        )
    assert postings["join"] and postings["join"] == postings["np"]


def test_compact_postings_swap_preserves_rows(spark, sf_dir, tmp_path):
    import os

    from final_project_big_data_spark.operators.ivf_index import (
        append_to_ivf_index,
        compact_ivf_postings,
        save_ivf_index,
    )
    from pyspark.sql import functions as F2

    idx = str(tmp_path / "idx")
    save_ivf_index(spark, sf_dir, idx, where=F2.expr("vec_id % 8 = 0"))
    e = _embeddings(spark, sf_dir)
    for m in range(1, 8):  # 7 append batches -> up to 8 files per list
        append_to_ivf_index(spark, idx, e.filter(f"vec_id % 8 = {m}"))
    before = _rows(spark.read.parquet(f"{idx}/postings"), ["vec_id"])
    # below threshold: no-op
    assert compact_ivf_postings(spark, idx, max_files_per_list=64) is False
    assert compact_ivf_postings(spark, idx, max_files_per_list=4) is True
    postings = f"{idx}/postings"
    after = _rows(spark.read.parquet(postings), ["vec_id"])
    assert after == before
    worst = max(
        sum(1 for f in os.listdir(os.path.join(postings, d)) if f.endswith(".parquet"))
        for d in os.listdir(postings)
        if d.startswith("centroid_id=")
    )
    assert worst == 1  # re-listed: one file per inverted list


# ---------------------------------------------------------- AQE skew join
# VERDICT r9 #4: the engine-level answer to skewed keys at 100 TB is
# AQE's OptimizeSkewedJoin (q72's manual salting stays as the portable
# fallback for sub-radar dims). Pin that the rule actually FIRES on a
# genuinely skewed sort-merge join — executed-plan check, not config
# hope.


def test_aqe_skew_join_fires_on_hot_key(spark):
    from pyspark.sql import functions as F2

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64k",
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        # 60% of fact rows share key 0 -> one oversized shuffle partition
        fact = spark.range(120_000).select(
            F2.when(F2.col("id") % 5 < 3, 0)
            .otherwise(F2.col("id") % 997)
            .alias("k"),
            F2.col("id").alias("payload"),
        )
        dim = spark.range(997).select(
            F2.col("id").alias("k"), F2.md5(F2.col("id").cast("string")).alias("d")
        )
        agg = fact.join(dim, "k").groupBy().agg(
            F2.count(F2.lit(1)).alias("n")
        )
        [row] = agg.collect()
        assert row["n"] == 120_000  # inner join complete despite the split
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
