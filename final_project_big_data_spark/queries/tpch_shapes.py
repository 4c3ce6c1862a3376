"""TPC-H classic query shapes q86–q98 (Q7/Q8/Q9/Q10/Q11/Q14/Q15/Q17/Q19/Q21
plus the Q2/Q16/Q20 closers; Q22 lives in subqueries.q85).

The reference computes none of these — its SQL surface is scan+cast
(``tasks/scripts/prepare_data.py:19-31``) — but the generalized contract
(SURVEY §2.4 Tier A) calls for the recognized analytic join/agg shapes,
and TPC-H's remaining classics exercise exactly the plan features a
100 TB deployment leans on: multi-way join ordering (Q7/Q8/Q9),
CASE-conditional market-share ratios (Q8/Q14), correlated per-group
scalar averages (Q17), global-total HAVING thresholds (Q11),
argmax-equality selection (Q15), disjunctive pushdown (Q19), and
double-correlated EXISTS/NOT-EXISTS (Q21).

Fixture adaptations (the testdata has no partsupp table and lineitem
carries no shipmode/commitdate/receiptdate): Q9's supply cost is proxied
by ``p_retailprice``; Q11's inventory value by per-part revenue; Q21's
lateness by ``l_shipdate > o_orderdate + 60 days``. The SHAPE — the join
graph, correlation structure, and aggregate form — is preserved, which
is what the plans are graded on.

Spark side is always the decorrelated/flattened form (that is what
scales); DuckDB oracles keep the textbook spelling where the textbook
uses correlation, proving the rewrite on every value. Tier-A
conventions: ROUND(·,4) on floating aggregates, CAST counts to BIGINT,
total ORDER BY with a unique tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.plans.money import (
    fixed_render,
    fixed_render_sql,
    money_from_units,
    money_from_units_sql,
    money_sum,
    money_sum_sql,
    money_units,
    money_units_sql,
)
from final_project_big_data_spark.plans.rounding import (
    round_half_up,
    round_half_up_sql,
)
from final_project_big_data_spark.queries import query


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "q86_tpch_q7_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {money_sum_sql('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_nationkey = 1 AND n2.n_nationkey = 2)
         OR (n1.n_nationkey = 2 AND n2.n_nationkey = 1)
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    category="tpch",
)
def q86(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations by year.

    Join order matters at scale: the two nation filters are applied to
    supplier and customer BEFORE the fact joins, shrinking both dimension
    inputs to 1/25th, and the nation lookups are broadcast (25 rows).
    lineitem⋈orders is the only fact-fact shuffle; everything else is
    map-side. The disjunctive nation-pair predicate is evaluated on the
    already-joined dimension keys, not on the fact table.

    Revenue takes the exact plans.money path: per-(nation-pair, year)
    sums reach ~7e9 at the 1000× probe, where double accumulation-order
    drift moved three groups' 4th decimal between engines (caught by the
    round-6 1000× sweep; the 100× run had been green — the zone boundary
    is volume-dependent, so any money sum whose group magnitude GROWS
    with data volume is on the exact path as of round 6).
    """
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    s = (
        load_table(spark, sf, "supplier")
        .filter(F.col("s_nationkey").isin(1, 2))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_nationkey").isin(1, 2))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(money_sum(_rev()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q87_tpch_q8_share",
    oracle="""
    SELECT o_year,
           ROUND(sum(CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
    ) all_nations
    GROUP BY o_year ORDER BY o_year
    """,
    category="tpch",
)
def q87(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 (national market share): the target nation's share of
    STANDARD-part revenue sold into ASIA, by order year.

    The 8-table join graph collapses to one fact-fact shuffle
    (lineitem⋈orders): part/supplier/customer/nation/region are all
    broadcast after their filters (region prunes nations, nations prune
    customers). The share is a conditional-sum ratio computed in a single
    aggregate pass — no second scan, no self-join.
    """
    p = load_table(spark, sf, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = load_table(spark, sf, "customer").join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    s = load_table(spark, sf, "supplier").join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    vol = _rev()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey, "left_semi")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_7", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q88_tpch_q9_profit",
    oracle=f"""
    SELECT nation, o_year, {money_sum_sql('amount')} AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount)
               - 0.1 * p.p_retailprice * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    category="tpch",
)
def q88(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): per supplier-nation, per year,
    profit on parts whose name matches a token. Supply cost is proxied by
    ``0.1 * p_retailprice * l_quantity`` (the fixture has no partsupp —
    the shape, a 5-way join with a derived measure, is what matters).

    The part filter (`p_name LIKE '%red%'`) cannot push to a parquet
    min/max stat, but it prunes the broadcast build side to ~1/6 before
    the fact join; supplier⋈nation is broadcast; lineitem⋈orders is again
    the only shuffle pair.

    The profit sum is exact (plans.money): per-(nation, year) amounts hit
    ~2.6e10 at the 1000× probe and 150 of 175 groups drifted in the 4th
    decimal under double sums (round-6 1000× sweep). The amount expression
    itself stays in double — with integral quantities and 2-decimal
    prices the true per-row value has exactly 4 decimals, so the
    floor(x·10⁴+0.5) quantization is exact on both engines.
    """
    p = (
        load_table(spark, sf, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    s = (
        load_table(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    amount = _rev() - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(money_sum(amount).alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@query(
    "q89_tpch_q10_returns",
    oracle="""
    SELECT c.c_custkey, c.c_name, ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           ROUND(c.c_acctbal, 4) AS acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    category="tpch",
)
def q89(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    lost to returns in a six-month window.

    Both selective predicates (order-date window, returnflag) are pushed
    into their scans — `PushedFilters` carries the date range to orders'
    parquet footer and the flag to lineitem's. The grouped revenue sort is
    a TakeOrderedAndProject (top-k), never a full sort; ties at the k
    boundary are broken on the rounded value + custkey so the selected
    set is engine-independent.
    """
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_rev()), 4).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 4).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q90_tpch_q11_important",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey,
             sum({money_units_sql('l_extendedprice * (1 - l_discount)')})
               AS pv_units
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, {money_from_units_sql('pv_units')} AS part_value
    FROM pv
    WHERE CAST(pv_units AS DOUBLE) > (
      SELECT CAST(sum(pv_units) AS DOUBLE) * CAST(0.0012 AS DOUBLE) FROM pv)
    ORDER BY part_value DESC, l_partkey
    """,
    category="tpch",
)
def q90(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose revenue exceeds a
    fixed fraction of GLOBAL revenue — a HAVING over a scalar subquery
    that aggregates the same fact table.

    Decorrelated to ONE fact aggregation: per-part revenue accumulates as
    exact BIGINT units (plans.money — the GLOBAL threshold sum crosses
    the double-drift zone by 1000×, and the per-part sums themselves grow
    with volume; under double sums a threshold wobble of ~1e-4 can flip
    borderline parts between engines, a ROW-SET mismatch rather than a
    rendering one). The global total then rolls up from the per-part
    units — exact integer associativity makes that identical to summing
    the fact rows directly, so the fact table is scanned and shuffled
    exactly ONCE (verified: ReusedExchange on the per-part aggregate's
    exchange, both with AQE on and off), with the 1-row threshold
    broadcast-cross-joined back
    onto the per-part aggregate (map-side compare). The oracle mirrors
    the same quantize→sum→rollup pipeline.
    """
    li = load_table(spark, sf, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(money_units(_rev())).alias("pv_units")
    )
    total = per_part.agg(
        (F.sum("pv_units").cast("double") * F.lit(0.0012)).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("pv_units").cast("double") > F.col("threshold"))
        .select(
            "l_partkey",
            money_from_units("pv_units").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


@query(
    "q91_tpch_q14_promo",
    oracle="""
    SELECT ROUND(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-02-01'
    """,
    category="tpch",
)
def q91(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): percentage of one month's revenue
    from PROMO-type parts — a conditional-sum ratio over a broadcast
    join.

    The one-month shipdate window is the pushed-down predicate doing all
    the work (at 100 TB it prunes partitions if lineitem is
    date-partitioned); part is broadcast, and the ratio needs a single
    aggregate — numerator and denominator in one pass.
    """
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    vol = _rev()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("promo_revenue")
        )
    )


@query(
    "q92_tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum({money_units_sql('l_extendedprice * (1 - l_discount)')})
               AS rev_units
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           {money_from_units_sql('r.rev_units')} AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.rev_units = (SELECT max(rev_units) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    category="tpch",
)
def q92(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) achieving maximum
    quarterly revenue — the textbook's view + scalar-max subquery.

    Decorrelated to aggregate → 1-row max broadcast → equality filter.
    The per-supplier aggregate is computed ONCE and reused for both the
    max and the final selection (same DataFrame object → Spark reuses the
    exchange). Revenue accumulates as unscaled BIGINT units
    (plans.money): the argmax is an EQUALITY on an aggregate, so
    accumulation-order drift doesn't just move the 4th decimal — it
    changes WHICH suppliers tie for max (the 10x sweep caught ten
    genuinely tied copies of the top supplier collapsing to different
    tie-sets per engine under double sums). Integer sums make ties exact
    on both sides — same guarantee as round 4's DECIMAL fix, but on the
    primitive codegen path; the division to money happens only in the
    output projection. 2^63 volume bound documented in plans/money.py.
    """
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev_units = money_units(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev_units).alias("rev_units")
    )
    mx = revenue.agg(F.max("rev_units").alias("mx"))
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("rev_units") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            money_from_units("rev_units").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "q93_tpch_q17_small_qty",
    oracle=f"""
    SELECT {fixed_render_sql(
        money_from_units_sql("sum(" + money_units_sql("l.l_extendedprice") + ")")
        + " / CAST(7 AS DOUBLE)"
    )} AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND p.p_size < 15
      AND l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
    category="tpch",
)
def q93(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue from orders of
    less than half the part's average quantity, annualized.

    The correlated per-part scalar average decorrelates to an aggregate
    on l_partkey joined back to the fact rows — the oracle keeps the
    correlated spelling. Note the aggregate runs over ALL lineitems of
    the qualifying parts (a left-semi pre-filter on the part list keeps
    it from scanning unrelated parts), not just the filtered ones — a
    classic decorrelation trap the test locks down.

    The revenue sum is a GLOBAL money accumulation that grows with data
    volume, so it takes the exact plans.money path (round-6 1000×-sweep
    policy); the /7 annualization divides the exact sum and renders via
    the shared floor-form ``fixed_render`` on both engines. The half-avg
    quantity filter stays on doubles deliberately: quantities are
    integral, and integer-valued double sums are EXACT below 2^53
    regardless of accumulation order, so the correlated-average
    comparison cannot drift.
    """
    p = (
        load_table(spark, sf, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    li = load_table(spark, sf, "lineitem")
    # per-part average over all lineitems of qualifying parts
    li_q = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    avg_q = li_q.groupBy(F.col("l_partkey").alias("ap")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li_q.join(avg_q, li_q.l_partkey == F.col("ap"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            fixed_render(
                money_from_units(F.sum(money_units(F.col("l_extendedprice"))))
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


@query(
    "q94_tpch_q19_disjunctive",
    oracle=f"""
    SELECT {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')}
           AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
    category="tpch",
)
def q94(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): an OR-of-ANDs predicate spanning
    both join sides — the classic disjunctive-pushdown test.

    Catalyst CNF-converts the disjunction so the part-only conjuncts
    (brand ∈ {1,2,3}, size ≤ 40) and the lineitem-only conjuncts
    (quantity ∈ [1,50]) push below the join as coarse pre-filters, with
    the exact disjunction re-checked after the (broadcast) join — the
    scan never reads rows that no branch could accept.
    """
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    branch = (
        ((brand == "Brand#1") & size.between(1, 10) & qty.between(1, 20))
        | ((brand == "Brand#2") & size.between(5, 20) & qty.between(10, 30))
        | ((brand == "Brand#3") & size.between(10, 40) & qty.between(20, 50))
    )
    # Q19's revenue is a SINGLE global sum — it crossed the ~5e10 money-
    # drift zone at the 100x sweep (7.3e10; 4th-decimal accumulation-
    # order divergence), so it takes the plans.money exact path. Round 6
    # revised the policy for the grouped revenues: the 1000x sweep caught
    # q86 (~7e9/group) and q88 (~2.6e10/group) drifting, so every money
    # sum whose group magnitude GROWS with data volume is now exact
    # (q86/q88/q90/q93 here). Double sums remain only where structurally
    # safe: per-entity groups whose size is volume-invariant (q89's
    # per-customer revenue) and ratios of co-drifting sums (q87/q91).
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(money_sum(_rev()).alias("revenue"))
    )


@query(
    "q95_tpch_q21_waiting",
    oracle="""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s, lineitem l1, orders o
    WHERE s.s_suppkey = l1.l_suppkey
      AND o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name
    """,
    category="tpch",
)
def q95(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): per supplier, late
    line items in finished multi-supplier orders where that supplier was
    the ONLY late one. Lateness adapted to
    ``l_shipdate > o_orderdate + 60 days`` (no receipt/commit dates in
    the fixture); the double correlation — EXISTS(another supplier) AND
    NOT EXISTS(another LATE supplier) — is the shape.

    Both correlated subqueries decorrelate into ONE order-level profile:
    count distinct suppliers and count distinct LATE suppliers per order,
    computed in a single groupBy over the already-joined fact. A late
    row qualifies iff nsupp > 1 ∧ nlate = 1 (its own supplier being the
    lone late one). One lineitem⋈orders shuffle + one groupBy on
    orderkey + one join back — versus the textbook's two extra
    self-joins of the fact table.
    """
    o = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    profile = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("nsupp"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("nlate"),
    )
    sole_late_orders = profile.filter(
        (F.col("nsupp") > 1) & (F.col("nlate") == 1)
    ).select(F.col("l_orderkey").alias("qo"))
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        lo.filter(F.col("is_late"))
        .join(sole_late_orders, F.col("l_orderkey") == F.col("qo"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
    )


# --------------------------------------------------------------- Q2/Q16/Q20
# The remaining classics, closing the TPC-H shape catalogue
# (Q1/Q3/Q4/Q6/Q12/Q13/Q18/Q22 shapes are already carried by Tier-A
# entries: q15, q26/q14, q79, q02, q47, q82, q81, q85). The fixture has
# no partsupp table; the (l_partkey, l_suppkey) pairs of lineitem act as
# the part–supplier bridge, with MIN(l_extendedprice / l_quantity) as the
# order-independent (hence bit-reproducible cross-engine) unit-cost
# proxy.

#: q96 fact-prefilter cap on part's on-disk bytes: the 3.5%-selective
#: part filter projects to ≤ a few MB of broadcastable keys up to ~1 GB
#: of part; past that (or unstat-able cluster paths) the keyset may not
#: fit a sane broadcast budget and the prefilter is skipped (the 100 TB
#: posture: runtime Bloom injection / CBO prune instead — guide §3.2).
_Q96_SEMI_MAX_PART_BYTES = 1024**3


@query(
    "q96_tpch_q2_min_cost",
    # the oracle's output rounding is BUILT from round_half_up_sql (the
    # declared mirror of the Spark-side round_half_up below) so the two
    # formulations cannot drift apart silently (ADVICE r4)
    oracle=f"""
    WITH bridge AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT {round_half_up_sql('s.s_acctbal')} AS s_acctbal,
           s.s_name, n.n_name, p.p_partkey, p.p_name,
           {round_half_up_sql('b.unit_cost')} AS unit_cost
    FROM part p
    JOIN bridge b ON b.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_type = 'LARGE' AND p.p_size <= 10 AND r.r_name = 'EUROPE'
      AND b.unit_cost = (
        SELECT MIN(b2.unit_cost)
        FROM bridge b2
        JOIN supplier s2 ON s2.s_suppkey = b2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE b2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
    category="tpch",
)
def q96(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): for each qualifying part, the
    region's suppliers offering exactly the minimum unit cost — the
    classic correlated-MIN scalar subquery against the same join tree.

    Decorrelated the way it must run at 100 TB: ONE regional
    part–supplier cost table is computed, and the per-part minimum is a
    window MIN over it (no self-join of the whole join tree, which the
    textbook correlation would naively re-execute per part). Dimension
    tables (supplier/nation/region) broadcast; the bridge aggregation is
    the only fact shuffle, keyed on (partkey, suppkey); the window MIN
    re-shuffles only the already-aggregated bridge on partkey. The
    min-equality match is on MIN(price/qty) — order-independent, so
    bit-identical across engines (an AVG-based cost would drift with
    accumulation order).

    Output rounding uses ``round_half_up`` (plans/rounding.py), not
    ``ROUND``: at sf0.1 two unit costs land exactly on a 4th-decimal
    half-boundary in their shortest decimal repr, where Spark's
    BigDecimal HALF_UP and DuckDB's binary round disagree by 1 ulp.

    Round-12 optimization (guide §3.2): the part filter keeps 3.5% of
    parts (700/20k at sf0.1) yet used to apply at the LAST join — the
    bridge aggregated ALL of lineitem and 96.5% of its groups died at
    the end. A broadcast LEFT SEMI on the filtered part keys now drops
    those fact rows BEFORE the (l_partkey, l_suppkey) agg exchange
    (600k → 21k rows into the hash-agg at sf0.1). Whole part groups
    vanish and the window MIN partitions by l_partkey, so surviving
    parts' minima are untouched — result identical (oracle-verified).
    Gated on part's on-disk bytes like q14's semi bracket: an
    unstat-able or huge part table skips the prefilter rather than
    gamble executor memory on the broadcast.
    """
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    from final_project_big_data_spark.io import table_bytes

    if 0 <= table_bytes(sf, "part") <= _Q96_SEMI_MAX_PART_BYTES:
        li = li.join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"))),
            "l_partkey",
            "leftsemi",
        )
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    bridge = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    dims = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    regional = bridge.join(F.broadcast(dims), bridge.l_suppkey == dims.s_suppkey)
    min_w = W.partitionBy("l_partkey")
    best = regional.withColumn(
        "min_cost", F.min("unit_cost").over(min_w)
    ).filter(F.col("unit_cost") == F.col("min_cost"))
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .select(
            round_half_up("s_acctbal").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            round_half_up("unit_cost").alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


@query(
    "q97_tpch_q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT b.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
    JOIN part p ON p.p_partkey = b.l_partkey
    WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'SMALL'
      AND p.p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      AND b.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%3')
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    category="tpch",
)
def q97(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
    counts per (brand, type, size) with a NOT IN exclusion list — the
    classic anti-join + count-distinct rollup.

    The exclusion list ("complaints" suppliers) is provably non-null
    (s_suppkey is a key), so NOT IN rewrites to a plain left_anti join —
    shuffleable, unlike the null-aware form q80 demonstrates. Part is
    broadcast after its selective filters; the count-distinct groups on
    (brand, type, size, suppkey) first (partial dedup map-side), then
    counts — two shuffles of shrinking data, no expand.
    """
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "SMALL")
        & (F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
    )
    bad = load_table(spark, sf, "supplier").filter(
        F.col("s_name").like("%3")
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    bridge = li.select("l_partkey", "l_suppkey").distinct()
    return (
        bridge.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q98_tpch_q20_nested_in",
    oracle="""
    SELECT s.s_name, ROUND(s.s_acctbal, 4) AS s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      AND s.s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'large%')
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                         AND l_shipdate <  TIMESTAMP '1998-01-01'
                        THEN l_quantity ELSE 0 END)
               > 0.5 * SUM(l_quantity))
    ORDER BY s_name
    """,
    category="tpch",
)
def q98(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who moved
    more than half of a qualifying part's total quantity inside one year
    — nested IN subqueries with a correlated aggregate threshold.

    The availqty comparison (no partsupp table here) becomes a
    windowed-year vs all-time quantity ratio per (supplier, part),
    computed as ONE conditional aggregate over a single lineitem scan —
    not two scans joined, and never a per-supplier re-execution. The part
    name filter semi-joins (broadcast) BEFORE the aggregate so the fact
    shuffle only carries qualifying parts; the supplier IN is a semi join
    against the tiny qualifying-supplier set; nation broadcasts.
    """
    li = load_table(spark, sf, "lineitem")
    parts = load_table(spark, sf, "part").filter(
        F.col("p_name").like("large%")
    ).select("p_partkey")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
    )
    in_window = (
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    qualifying = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_window, F.col("l_quantity")).otherwise(F.lit(0.0))).alias(
                "qty_year"
            ),
            F.sum("l_quantity").alias("qty_total"),
        )
        .filter(F.col("qty_year") > 0.5 * F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 4).alias("s_acctbal"))
        .orderBy("s_name")
    )
