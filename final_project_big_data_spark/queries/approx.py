"""Approximate aggregates and sampling (SURVEY.md §2.4 C01–C04).

These capabilities are inherently non-hash-matchable (sketches, RNG), so
each query *encodes its own acceptance property* as boolean columns and the
oracle asserts the expected booleans — the differential harness then gives
the same row-count + schema + value guarantee as Tier A, over the property
rather than the raw values. The property thresholds are stated in each
docstring.

Reference parity: C03/C04 replace the driver-side sklearn
``train_test_split`` calls (``/root/reference/tasks/scripts/
prepare_data.py:19-31``) with distributed ``sampleBy``/``randomSplit`` —
the semantics declared in SURVEY §7.4 (proportion bounds + fixed-seed
determinism, not row-identical splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.operators.quantiles import (
    exact_quantile_cont,
)
from final_project_big_data_spark.operators.text import md5_int, md5_int_sql
from final_project_big_data_spark.queries import query


@query(
    "a01_approx_count_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_ndv,
           TRUE AS approx_within_5pct
    FROM orders
    """,
    category="approx",
)
def a01(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog++ ``approx_count_distinct`` within 5% of exact (C01).

    Returns the exact NDV (hash-matched against DuckDB) plus the sketch's
    acceptance bit. rsd=0.01 → expected error ≪ 5% at any scale; the sketch
    aggregates in fixed memory per partition — the whole point at 100 TB,
    where exact COUNT(DISTINCT) needs a full shuffle of the key universe.

    The two aggregates run as SEPARATE aggregations joined 1-row×1-row —
    NEVER in one ``agg``. Round-6 scale fix (found by the guarded 1000×
    sweep): mixing a distinct aggregate with a sketch aggregate makes
    Catalyst's distinct-rewrite key the partial aggregation by the
    distinct column, so every custkey group carries the sketch's buffer
    (~21 KB at rsd=0.01) — ~10M groups × 21 KB OOMed the sweep in the
    partial-agg stage. Split, the distinct path's buffers are empty and
    the sketch path has ONE fixed buffer per task.
    """
    o = load_table(spark, sf, "orders")
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_ndv"))
    approx = o.agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_ndv")
    )
    # 1-row × 1-row broadcast nested-loop join (not a data cartesian)
    df = exact.crossJoin(F.broadcast(approx))
    return df.select(
        "exact_ndv",
        (
            F.abs(F.col("approx_ndv") - F.col("exact_ndv"))
            <= 0.05 * F.col("exact_ndv")
        ).alias("approx_within_5pct"),
    )


@query(
    "a02_approx_quantiles",
    oracle="""
    SELECT ROUND(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
    FROM orders
    """,
    category="approx",
)
def a02(spark: SparkSession, sf: str) -> DataFrame:
    """``percentile_approx`` (KLL-style sketch) within 1% of the exact
    interpolated percentile at p25/p50/p75 (C02).

    The exact p50 itself is hash-matched against DuckDB ``quantile_cont``
    and the sketch is accepted within relative error 1%. The exact
    reference comes from ``operators.quantiles.exact_quantile_cont``
    (same IEEE interpolation as both builtins), NOT Spark's built-in
    ``percentile``: the builtin's value-keyed object-agg buffer is the
    q56 scale-defect class (SURVEY §7.4) — over a near-continuous
    60M-row column its single global group folds every partial map into
    one multi-GB buffer, while the counting formulation's memory is
    bounded by distinct values at every stage. ``percentile_approx``
    itself is the bounded-sketch scale path C02 actually surfaces.
    """
    orders = load_table(spark, sf, "orders")
    exact = exact_quantile_cont(
        orders, [], "o_totalprice", {"e25": 0.25, "e50": 0.5, "e75": 0.75}
    )
    approx = orders.agg(
        F.expr(
            "percentile_approx(o_totalprice, array(0.25D, 0.5D, 0.75D), 10000)"
        ).alias("approx"),
    )
    # 1-row × 1-row broadcast nested-loop join (not a data cartesian)
    df = exact.join(F.broadcast(approx))
    checks = [
        (
            F.abs(F.col("approx")[i] - F.col(e))
            <= 0.01 * F.abs(F.col(e))
        ).alias(name)
        for i, (e, name) in enumerate(
            [("e25", "p25_ok"), ("e50", "p50_ok"), ("e75", "p75_ok")]
        )
    ]
    return df.select(F.round(F.col("e50"), 4).alias("exact_p50"), *checks)


@query(
    "a03_stratified_sample",
    oracle="""
    SELECT o_orderstatus AS stratum, TRUE AS ratio_ok, TRUE AS deterministic
    FROM orders GROUP BY o_orderstatus ORDER BY stratum
    """,
    category="sampling",
)
def a03(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified Bernoulli sample — ``sampleBy(col, fractions, seed)`` (C03).

    Per stratum: sampled/total within ±10% absolute of the requested 50%
    fraction, and the same seed reproduces the identical sample (checked by
    running the sample twice and comparing per-stratum counts). Replaces the
    reference's sklearn ``train_test_split(stratify=...)`` with the
    distributed, approximate-count semantics declared in SURVEY §7.4.
    """
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    fractions = {"F": 0.5, "O": 0.5, "P": 0.5}
    s1 = orders.sampleBy("o_orderstatus", fractions, seed=42)
    s2 = orders.sampleBy("o_orderstatus", fractions, seed=42)

    totals = orders.groupBy("o_orderstatus").agg(F.count("*").alias("n_total"))
    c1 = s1.groupBy("o_orderstatus").agg(F.count("*").alias("n_s1"))
    c2 = s2.groupBy("o_orderstatus").agg(F.count("*").alias("n_s2"))
    joined = totals.join(c1, "o_orderstatus").join(c2, "o_orderstatus")
    return joined.select(
        F.col("o_orderstatus").alias("stratum"),
        (
            F.abs(F.col("n_s1") / F.col("n_total") - 0.5) <= 0.10
        ).alias("ratio_ok"),
        (F.col("n_s1") == F.col("n_s2")).alias("deterministic"),
    ).orderBy("stratum")


@query(
    "a04_random_split",
    oracle="SELECT TRUE AS complete, TRUE AS disjoint, TRUE AS ratio_ok",
    category="sampling",
)
def a04(spark: SparkSession, sf: str) -> DataFrame:
    """70/30 ``randomSplit(seed=42)`` — disjoint, complete, ratio within
    ±5% absolute (C04; reference ``prepare_data.py:26-31`` parity).

    complete: |train| + |test| == |orders|; disjoint: no orderkey lands in
    both halves (anti-join count 0); ratio: train fraction in [0.65, 0.75].
    """
    orders = load_table(spark, sf, "orders").select("o_orderkey")
    train, test = orders.randomSplit([0.7, 0.3], seed=42)
    n_total = orders.count()
    n_train, n_test = train.count(), test.count()
    n_overlap = train.join(test, "o_orderkey", "inner").count()
    return spark.createDataFrame(
        [
            (
                n_train + n_test == n_total,
                n_overlap == 0,
                abs(n_train / n_total - 0.7) <= 0.05,
            )
        ],
        "complete boolean, disjoint boolean, ratio_ok boolean",
    )


@query(
    "a05_hll_sketch_union",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_ndv,
           TRUE AS union_within_5pct, TRUE AS groups_within_5pct
    FROM orders
    """,
    category="approx",
)
def a05(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable HLL sketches (Datasketches ``hll_sketch_agg`` /
    ``hll_union_agg`` / ``hll_sketch_estimate``) — the re-aggregatable
    distinct-count path: build one sketch per group, union the binary
    sketches into a global estimate without touching raw keys again.

    At 100 TB this is the rollup pattern: per-partition/per-day sketches
    persist as small binaries; any coarser NDV (week, month, global) is a
    sketch union — no second scan, no key shuffle. Acceptance: the unioned
    estimate and every per-group estimate within 5% of exact; the exact
    global NDV itself is hash-matched against DuckDB.
    """
    o = load_table(spark, sf, "orders")
    # sketch and exact NDV as SEPARATE aggregations joined on the (tiny)
    # group key — same one-agg distinct-rewrite hazard as a01: combined,
    # every (status, custkey) partial group would carry a 16 KB HLL buffer
    per_group = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey", 14).alias("sk"),
    ).join(
        o.groupBy("o_orderstatus").agg(
            F.countDistinct("o_custkey").alias("exact_g")
        ),
        "o_orderstatus",
    )
    groups_ok = per_group.select(
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_g"))
            <= 0.05 * F.col("exact_g")
        ).alias("ok")
    ).agg(F.every("ok").alias("groups_within_5pct"))
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"), True)).alias("union_ndv")
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_ndv"))
    return (
        exact.crossJoin(merged)
        .crossJoin(groups_ok)
        .select(
            "exact_ndv",
            (
                F.abs(F.col("union_ndv") - F.col("exact_ndv"))
                <= 0.05 * F.col("exact_ndv")
            ).alias("union_within_5pct"),
            "groups_within_5pct",
        )
    )


@query(
    "a06_freq_items",
    oracle="""
    SELECT o_orderpriority AS top_priority, TRUE AS top_in_freq_items
    FROM orders GROUP BY o_orderpriority
    ORDER BY count(*) DESC, o_orderpriority LIMIT 1
    """,
    category="approx",
)
def a06(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy hitters: ``df.stat.freqItems`` (Karp/Misra-Gries style
    single-pass sketch, support=0.15) must contain the true modal value.

    The exact top priority is hash-matched against DuckDB; the sketch
    membership is the acceptance bit. At scale the sketch is one pass with
    fixed per-partition state (1/support counters) and a tiny merge — vs
    the exact path's full group-count shuffle.

    Fully lazy: ``freqItems`` returns a (1-row) DataFrame, so both sides
    join as subplans — no driver-side ``first()`` at build time.
    """
    o = load_table(spark, sf, "orders")
    top = (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("o_orderpriority"))
        .limit(1)
        .select(F.col("o_orderpriority").alias("top_priority"))
    )
    freq = o.stat.freqItems(["o_orderpriority"], 0.15).select(
        F.col("o_orderpriority_freqItems").alias("fi")
    )
    return top.crossJoin(freq).select(
        "top_priority",
        F.array_contains(F.col("fi"), F.col("top_priority")).alias(
            "top_in_freq_items"
        ),
    )


@query(
    "a07_reservoir_sample",
    oracle="""
    WITH rk AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
    FROM rk WHERE rn <= 5 ORDER BY lang, rn
    """,
    category="approx",
)
def a07(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-stratum reservoir sample: exactly k=5 docs per
    language, chosen uniformly by ranking on a content-independent hash of
    the key (the distributed, reproducible replacement for a stateful
    reservoir — same marginal distribution, no sequential state).

    Unlike ``sampleBy`` (Bernoulli, only *expected* fraction), this yields
    an exact-size sample, and re-runs are identical on identical input —
    the property a training-data pipeline needs for resumable corpus
    subsetting. Plan: one shuffle on lang for the rank window. At 100 TB
    prepend a Bernoulli hash pre-filter (keep rows with hash below a
    quantile safely above rank k) so the window sorts a small survivor set
    instead of each full stratum; at fixture scale the direct window is
    the identical result.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, sf, "documents")
    rn = F.row_number().over(
        W.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        d.select("lang", "doc_id", rn.alias("rn"))
        .filter(F.col("rn") <= 5)
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("lang", "rn")
    )


@query(
    "a08_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             -ln(({md5_int_sql("CAST(doc_id AS VARCHAR)")} + 1) / 4294967296.0)
             / n_chars AS raw_key
      FROM documents
    )
    -- ORDER BY the raw key: naming the output ROUND(...) AS sel_key would
    -- shadow it and select by the 4-digit rounding's doc_id tie-break
    SELECT doc_id, n_chars, ROUND(raw_key, 4) AS sel_key
    FROM keyed ORDER BY raw_key, doc_id LIMIT 10
    """,
    category="approx",
)
def a08(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    priority ``-ln(u)/w`` with weight w = n_chars and a deterministic
    md5-derived uniform u ∈ (0, 1]; the k=10 smallest priorities are the
    sample. P(selection) ∝ weight, reproducible across runs/engines.

    The distributed shape is the whole point: priorities are map-only and
    ``ORDER BY … LIMIT k`` compiles to TakeOrderedAndProject — each
    partition keeps a k-row heap, the driver merges k×partitions rows.
    One pass, no global sort, no RNG state — this is how you draw a
    10M-doc weighted subset from a 100-TB corpus in one job.
    """
    d = load_table(spark, sf, "documents")
    u = (md5_int(F.col("doc_id").cast("string")) + F.lit(1)) / F.lit(4294967296.0)
    key = -F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "n_chars", key.alias("sel_key"))
        .orderBy("sel_key", "doc_id")
        .limit(10)
        .withColumn("sel_key", F.round("sel_key", 4))
    )


# ------------------------------------------------------ count-min sketch

_CMS_D = 3  # hash rows = 3 disjoint md5 hex windows (same family as d08)
_CMS_W = 256  # buckets per row; sketch table is d×w regardless of stream size
_CMS_TOPK = 20


@query(
    "a09_cms_heavy_hitters",
    oracle=f"""
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS uid FROM events),
    pos AS (
      SELECT uid, j, {md5_int_sql("uid", "1 + 8 * j")} % {_CMS_W} AS bucket
      FROM ev CROSS JOIN (VALUES (0), (1), (2)) t(j)
    ),
    sketch AS (SELECT j, bucket, count(*) AS c FROM pos GROUP BY j, bucket),
    cand AS (SELECT DISTINCT uid, j, bucket FROM pos),
    est AS (
      SELECT cand.uid, CAST(min(s.c) AS BIGINT) AS cms_est
      FROM cand JOIN sketch s ON cand.j = s.j AND cand.bucket = s.bucket
      GROUP BY cand.uid
    )
    SELECT uid AS user_id, cms_est FROM est
    ORDER BY cms_est DESC, user_id LIMIT {_CMS_TOPK}
    """,
    category="approx",
)
def a09(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min-sketch heavy hitters: top-{k} stream keys ranked by their
    CMS frequency estimate (d={d} md5-window hash rows, w={w} buckets).

    Unlike a01–a08's property oracles, the sketch itself is deterministic
    (md5-derived hash family, as in d02/d08), so DuckDB replays the exact
    d×w counter table and the estimates hash-match — including any
    collision-inflated overestimates, which ARE the CMS contract.

    Scale shape (reworked in the round-12 optimization pass, guide §2.3
    "aggregate before you shuffle"): the ONLY full-stream work is one
    hash-agg on uid (map-side partial counts → one exchange of ≤|users|
    rows). Every hash position is a FUNCTION of uid, so md5/explode run
    once per distinct user — not per event — and the old per-event
    3n-row explode + (uid, j, bucket) distinct (a second full-stream
    exchange) is gone. The sketch re-aggregates the per-user counts to
    its bounded d×w rows and broadcasts back; the per-user count frame
    is already uid-partitioned, so the estimate's groupBy(uid) adds NO
    exchange, and the top-k compiles to TakeOrderedAndProject.
    """
    ev = load_table(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("uid")
    )
    cnt = ev.groupBy("uid").agg(F.count("*").alias("n"))
    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (md5_int("uid", 1 + 8 * j) % _CMS_W).alias("bucket"),
            )
            for j in range(_CMS_D)
        ]
    )
    pos = cnt.select("uid", "n", F.explode(rows).alias("p")).select(
        "uid", "n", "p.j", "p.bucket"
    )
    sketch = pos.groupBy("j", "bucket").agg(F.sum("n").alias("c"))
    est = (
        pos.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("uid")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        est.select(F.col("uid").alias("user_id"), "cms_est")
        .orderBy(F.desc("cms_est"), "user_id")
        .limit(_CMS_TOPK)
    )


a09.__doc__ = a09.__doc__.format(
    k=_CMS_TOPK, d=_CMS_D, w=_CMS_W, dw=_CMS_D * _CMS_W
)
