"""Semantic pins for the round-9 additions: MERGE upsert (q108), CMS
heavy hitters (a09), temperature resampling (p04), content-defined
chunking (d14), BFS distances (x09), and containment pairs (d15).

Each entry is already value-hash-checked against its DuckDB oracle by the
sweep; these tests pin the PROPERTIES that make the operator correct by
construction (CMS never underestimates, MERGE branch semantics),
which a hash match alone can't localize when it breaks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from final_project_big_data_spark.queries import all_specs


@pytest.fixture(scope="module")
def specs():
    return all_specs()


# ------------------------------------------------------------------ q108


def test_q108_merge_branch_semantics(spark, sf_dir, specs):
    out = specs["q108_merge_upsert"].builder(spark, sf_dir).cache()
    try:
        actions = {
            r.action for r in out.select("action").distinct().collect()
        }
        assert actions == {"kept", "updated", "inserted"}
        # inserted rows are exactly the snapshot-absent keys → segment NEW
        ins = out.filter(F.col("action") == "inserted")
        assert ins.filter(F.col("c_mktsegment") != "NEW").count() == 0
        assert ins.filter(F.col("c_custkey") % 5 != 0).count() == 0
        # matched deletes are really gone: a customer in the snapshot whose
        # latest order is status 'F' must not appear at all
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        latest = (
            o.filter(
                F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
            )
            .groupBy("o_custkey")
            .agg(
                F.max(
                    F.struct("o_orderdate", "o_orderkey", "o_orderstatus")
                ).alias("ch")
            )
        )
        deleted = latest.filter(
            (F.col("ch.o_orderstatus") == "F")
            & (F.col("o_custkey") % 5 != 0)
        )
        n_del = deleted.count()
        assert n_del > 0  # the branch is actually exercised at this SF
        assert (
            out.join(
                deleted.select(F.col("o_custkey").alias("c_custkey")),
                "c_custkey",
            ).count()
            == 0
        )
    finally:
        out.unpersist()


# ------------------------------------------------------------------- a09


def test_a09_cms_never_underestimates(spark, sf_dir, specs):
    """The defining CMS property: estimate ≥ exact count for every key
    (min over d counters can only be inflated by collisions)."""
    est = specs["a09_cms_heavy_hitters"].builder(spark, sf_dir)
    exact = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.col("user_id").cast("string").alias("user_id"))
        .agg(F.count("*").alias("exact"))
    )
    bad = est.join(exact, "user_id").filter(
        F.col("cms_est") < F.col("exact")
    )
    assert bad.count() == 0
    assert est.count() > 0


# ------------------------------------------------------------------- p04


def test_p04_temperature_bounds(spark, sf_dir, specs):
    """Temperature flattening must up-sample the scarcest language and
    down-sample the dominant one; per-language output is bounded by the
    integer-epoch envelope n·⌊rate⌋ ≤ n_out ≤ n·⌈rate⌉."""
    out = specs["p04_temperature_resample"].builder(spark, sf_dir)
    rows = out.collect()
    assert any(r.rate > 1.0 for r in rows)  # scarce lang upsampled
    assert any(r.rate < 1.0 for r in rows)  # dominant lang downsampled
    import math

    for r in rows:
        assert r.n_avail * math.floor(r.rate) <= r.n_out
        assert r.n_out <= r.n_avail * math.ceil(r.rate)


# ------------------------------------------------------------------- d14


def test_d14_cdc_survives_prefix_insertion(spark, sf_dir, specs, tmp_path):
    """The reason CDC exists: prepending words to a document shifts every
    fixed-width (d09) chunk, but CDC boundaries re-synchronize, so the
    mutated copy shares most of its chunk fingerprints with the original.
    Plants doc' = 'zzz qqq ' + doc and compares chunk-set overlap under
    both chunkers."""
    import os

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.orderBy("doc_id").limit(1)
    planted = base.select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat(F.lit("zzz qqq "), F.col("text")).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 8).alias("n_chars"),
    )
    out = str(tmp_path)
    docs.unionByName(planted).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )

    def chunk_sets(name):
        # rebuild the chunker's exploded (doc_id, chunk) relation via the
        # registered builder's own module helpers is overkill — the n_dup
        # summary is enough: under CDC the planted pair makes nearly every
        # chunk of BOTH docs duplicated; under the fixed grid only the
        # aligned tail (if any) matches.
        df = specs[name].builder(spark, out)
        row = df.filter(
            F.col("doc_id").isin([base.first().doc_id, planted.first().doc_id])
        ).collect()
        return {r.doc_id: (r.n_chunks, r.n_dup_chunks) for r in row}

    cdc = chunk_sets("d14_cdc_chunks")
    fixed = chunk_sets("d09_chunk_dedup")
    pid = planted.first().doc_id
    cdc_frac = cdc[pid][1] / cdc[pid][0]
    fixed_frac = fixed[pid][1] / fixed[pid][0]
    # CDC: everything after the first re-synchronized boundary matches
    assert cdc_frac >= 0.8, (cdc, fixed)
    # the fixed grid is shifted by 2 words → near-total chunk loss
    assert fixed_frac <= 0.2, (cdc, fixed)


# ------------------------------------------------------------------- x09


def test_x09_bfs_triangle_inequality(spark, sf_dir, specs):
    """BFS output must satisfy dist(v) ≤ dist(u) + 1 for every edge u→v
    whose source is reached within the iteration budget minus one (the
    last round can leave frontier-edge targets one step stale, so only
    interior distances are constrained)."""
    out = specs["x09_bfs_distance"].builder(spark, sf_dir)
    d = {r.node: r.dist for r in out.collect()}
    assert d[0] == 0
    assert any(v is not None and v > 0 for v in d.values())
    edges = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            (F.col("o_custkey") % 97).alias("src"),
            (F.col("o_orderkey") % 89).alias("dst"),
        )
        .distinct()
        .collect()
    )
    for e in edges:
        du, dv = d.get(e.src), d.get(e.dst)
        if du is not None and du <= 4:  # interior of the 6-round budget
            assert dv is not None and dv <= du + 1, (e.src, e.dst, du, dv)


# ------------------------------------------------------------------- d15


def test_d15_containment_catches_full_quote(spark, sf_dir, specs, tmp_path):
    """A short document fully quoted from a long one has containment ≈ 1
    even though its Jaccard similarity is low — the asymmetric measure's
    whole reason to exist. Plants quote = first 12 words of doc X."""
    import os

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.orderBy("doc_id").limit(1)
    quote = base.select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 12), " ").alias(
            "text"
        ),
        "lang",
        "source",
        F.lit(60).cast("long").alias("n_chars"),
    )
    docs.unionByName(quote).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    out = specs["d15_containment_pairs"].builder(spark, str(tmp_path))
    b, q = base.first().doc_id, quote.first().doc_id
    hit = out.filter(
        (F.col("doc_a") == min(b, q)) & (F.col("doc_b") == max(b, q))
    ).collect()
    assert hit and hit[0].containment >= 0.9, hit


# ------------------------------------------------------------------- w06


def test_w06_produces_both_verdicts(spark, sf_dir, specs):
    """The bounded-disorder arrival model must yield BOTH late and
    on-time events at every fixture SF — a degenerate all-late or
    all-on-time corpus would make the prefix-max comparison vacuous."""
    out = specs["w06_late_data_accounting"].builder(spark, sf_dir)
    tot = out.agg(
        F.sum("n_total").alias("t"), F.sum("n_late").alias("l")
    ).first()
    assert 0 < tot.l < tot.t


# ------------------------------------------------------------------ q110


def test_q110_attribution_invariants(spark, sf_dir, specs):
    """Attribution must be consistent in time: every attributed delay is
    non-negative (the credited click precedes the purchase), and a NULL
    attribution implies a NULL delay (never-clicked users)."""
    out = specs["q110_last_touch_attribution"].builder(spark, sf_dir)
    assert out.filter(F.col("delay_sec") < 0).count() == 0
    assert (
        out.filter(
            F.col("attributed_click").isNull()
            & F.col("delay_sec").isNotNull()
        ).count()
        == 0
    )
    assert (
        out.filter(
            F.col("attributed_click").isNotNull()
            & F.col("delay_sec").isNull()
        ).count()
        == 0
    )


# ------------------------------------------------------------------ q111


def test_q111_scan_actually_prunes_partitions(spark, sf_dir, specs):
    """The q111 read must resolve the year predicate against directory
    names: the scan's PartitionFilters carry o_year and the planned
    input files all come from the single o_year=<year> directory."""
    import hashlib
    import os as _os
    import tempfile as _tf

    specs["q111_partition_pruned_scan"].builder(spark, sf_dir).collect()
    work = _os.path.join(
        _tf.gettempdir(),
        f"q111_part_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    from pyspark.sql import functions as F

    back = spark.read.parquet(work).filter(F.col("o_year") == 1997)
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "o_year" in seg, seg
    files = back.select(F.input_file_name().alias("f")).distinct().collect()
    assert files and all("o_year=1997" in r.f for r in files)


# ------------------------------------------------------------------ q112


def test_q112_dpp_expression_on_fact_scan(spark, sf_dir, specs):
    """The fact scan must carry a runtime dynamicpruningexpression on
    o_year — i.e. Spark plans to read only the dim-selected year
    directories, not all of them."""
    import hashlib
    import os as _os
    import tempfile as _tf

    specs["q112_dynamic_partition_pruning"].builder(spark, sf_dir).collect()
    work = _os.path.join(
        _tf.gettempdir(),
        f"q112_dpp_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    fact = spark.read.parquet(work)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_custkey") % 1000 == 7)
        .select((F.lit(1995) + F.col("c_custkey") % 3).cast("int").alias("y"))
        .distinct()
    )
    j = fact.join(dim, fact.o_year == dim.y).groupBy("o_year").count()
    plan = j._sc._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruningexpression(o_year" in plan, plan[:2000]
