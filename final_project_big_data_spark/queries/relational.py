"""Tier-A relational operators (SURVEY.md §2.4 Q01–Q40), DataFrame-first.

Each query is a declarative Spark plan — Catalyst handles pushdown, pruning
and join selection; hints (``broadcast``) are applied only where the shape is
known (small dims). Determinism conventions: every query ends in a total
ORDER BY with a unique-key tiebreak; float aggregates are ``round(·, 4)``;
oracle SQL casts DuckDB's wider integer results (BIGINT/HUGEINT) down to the
exact Spark output types.

The reference exercises only scan/project/JSON of this surface
(``/root/reference/tasks/scripts/producer.py:23-24``,
``predict.py:30-44``) — everything else generalizes it per the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.plans.money import (
    fixed_render,
    fixed_render_sql,
    money_sum,
    money_sum_sql,
)
from final_project_big_data_spark.plans.ordering import sorted_project
from final_project_big_data_spark.queries import query

# ---------------------------------------------------------------- scan/filter


@query(
    "q01_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
    category="scan+project",
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q02_filter_compare",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_quantity > 30
    ORDER BY l_orderkey, l_linenumber
    """,
    category="filter",
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q03_filter_boolean",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_discount, l_returnflag FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_returnflag IN ('A', 'R')
    ORDER BY l_orderkey, l_linenumber
    """,
    category="filter",
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            F.col("l_discount").between(0.05, 0.07)
            & F.col("l_returnflag").isin("A", "R")
        )
        .select("l_orderkey", "l_linenumber", "l_discount", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q04_filter_like",
    oracle="""
    SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%widget%'
    ORDER BY p_partkey
    """,
    category="filter",
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


@query(
    "q05_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS bucket
    FROM orders ORDER BY o_orderkey
    """,
    category="conditional",
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "orders")
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 100000, "big")
            .otherwise("small")
            .alias("bucket"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------- joins


@query(
    "q06_join_inner",
    oracle="""
    SELECT l_orderkey, l_linenumber, o_totalprice
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ORDER BY l_orderkey, l_linenumber
    """,
    category="join",
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    """Fact⋈dim equi join with the output order pushed below the join:
    the narrow fact projection is range-partitioned + locally sorted on
    the output keys BEFORE the broadcast probe (``range_presorted``), so
    the final ``orderBy`` is already satisfied — without this, the range
    exchange's sampling pass re-executes the entire join (measured 1.21 s
    → 0.71 s at sf0.1; the saving grows with the join's cost at scale).

    No broadcast hint: this is the GENERIC equi-join surface (Q07 is the
    hinted one). The presort is COST-BASED (``range_presorted_for_join``):
    at a scale where orders stops auto-broadcasting, the planner falls
    back to a key shuffle that destroys the pre-established order — the
    presort would be paid and thrown away (measured: double range-sort of
    the 60M-row fact at the 100× probe), so it is skipped exactly when
    the planner's own size estimate says the join will shuffle.
    """
    from final_project_big_data_spark.plans.ordering import (
        range_presorted_for_join,
    )

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    return (
        range_presorted_for_join(li, o, "l_orderkey", "l_linenumber")
        .join(o, F.col("l_orderkey") == o.o_orderkey, "inner")
        .select("l_orderkey", "l_linenumber", "o_totalprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q07_join_broadcast",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    ORDER BY n_nationkey
    """,
    category="join",
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    # region is a 5-row dim: explicit broadcast so no shuffle at any scale.
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    )


@query(
    "q08_join_left_outer",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS order_cnt
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey
    """,
    category="join",
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
        .orderBy("c_custkey")
    )


@query(
    "q09_join_full_outer",
    oracle="""
    WITH s AS (SELECT s_nationkey AS k, count(*) AS supp_cnt FROM supplier GROUP BY 1),
         c AS (SELECT c_nationkey AS k, count(*) AS cust_cnt FROM customer GROUP BY 1)
    SELECT coalesce(s.k, c.k) AS nationkey, supp_cnt, cust_cnt
    FROM s FULL OUTER JOIN c ON s.k = c.k
    ORDER BY nationkey
    """,
    category="join",
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    s = (
        load_table(spark, sf, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("supp_cnt"))
    )
    c = (
        load_table(spark, sf, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("cust_cnt"))
    )
    return (
        s.join(c, s.k == c.k, "full")
        .select(
            F.coalesce(s.k, c.k).alias("nationkey"), "supp_cnt", "cust_cnt"
        )
        .orderBy("nationkey")
    )


@query(
    "q10_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
    category="join",
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q11_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    ORDER BY c_custkey
    """,
    category="join",
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    """Customers with no high-value order (filtered NOT EXISTS → left_anti).

    The price filter keeps the result non-empty at every sf — an anti join
    whose answer is always ∅ would be a vacuous check.
    """
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q12_join_cross",
    oracle="SELECT count(*) AS pair_cnt FROM region CROSS JOIN nation",
    category="join",
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    r = load_table(spark, sf, "region")
    n = load_table(spark, sf, "nation")
    return r.crossJoin(n).agg(F.count("*").alias("pair_cnt"))


@query(
    "q13_join_theta",
    oracle="""
    SELECT n1.n_name AS nation_a, n2.n_name AS nation_b
    FROM nation n1 JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
    ORDER BY nation_a, nation_b
    """,
    category="join",
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    n1 = load_table(spark, sf, "nation").alias("n1")
    n2 = load_table(spark, sf, "nation").alias("n2")
    # equi key carries the shuffle; the `<` predicate rides along post-match,
    # so this stays a hash/merge join (not BNLJ) at any scale.
    cond = (F.col("n1.n_regionkey") == F.col("n2.n_regionkey")) & (
        F.col("n1.n_nationkey") < F.col("n2.n_nationkey")
    )
    return (
        n1.join(n2, cond)
        .select(
            F.col("n1.n_name").alias("nation_a"),
            F.col("n2.n_name").alias("nation_b"),
        )
        .orderBy("nation_a", "nation_b")
    )


#: semi-prefilter bracket on orders' on-disk bytes. Below the floor the
#: planner broadcasts the (orders⋈customer) build side by itself, so a
#: key prefilter would be a redundant second broadcast+probe of the same
#: relation; above the cap the surviving-orderkey set no longer fits a
#: sane broadcast budget (a ~30M-key hashed relation is >1 GB on the
#: driver AND every executor).
_Q14_SEMI_MIN_BYTES = 64 * 1024**2
_Q14_SEMI_MAX_BYTES = 8 * 1024**3

#: flat-shape cap on orders' on-disk bytes: below it the whole (o⋈c)
#: relation broadcasts, the reorder has no exchange to shrink, and it
#: would serialize two dependent broadcast builds.
_Q14_FLAT_MAX_BYTES = 64 * 1024**2


def _q14_flat(sf: str) -> bool:
    """Flat (li⋈o)⋈c join order while orders' on-disk bytes are inside
    the everything-broadcasts regime; unstat-able paths read as big →
    reorder. Measurements: OPTIMIZATION_r12.md §q14, SCALE.md "q14 flat
    shape"."""
    from final_project_big_data_spark.io import table_bytes

    ob = table_bytes(sf, "orders")
    return 0 <= ob <= _Q14_FLAT_MAX_BYTES


def _q14_semi(spark: SparkSession, sf: str) -> bool:
    """Broadcast LEFT SEMI the fact against the (o⋈c) orderkey set before
    its exchange: only on a non-local master, where the shuffle crosses
    the network (locally the byte saving never repaid the second dim
    scan), and only while orders' on-disk bytes keep the keyset
    broadcastable. Unstat-able orders skip it. Measurements:
    OPTIMIZATION_r12.md §q14, SCALE.md round 13."""
    from final_project_big_data_spark.io import table_bytes
    from final_project_big_data_spark.session import is_local_master

    if is_local_master(spark.sparkContext.master):
        return False
    ob = table_bytes(sf, "orders")
    return _Q14_SEMI_MIN_BYTES <= ob <= _Q14_SEMI_MAX_BYTES


@query(
    "q14_multiway_join",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      AND CAST(l_shipdate  AS DATE) > DATE '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
    category="join",
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: filter → 3-way join → agg → top-k.

    Three join orders, each picked by a gate from input metadata:
    semi-prefiltered reorder (``_q14_semi``), flat (li⋈o)⋈c
    (``_q14_flat``), otherwise li⋈(o⋈c) with the dim join first. Inner-
    join associativity: every shape returns the same rows. The groupBy
    after the join needs no extra exchange: the join leaves rows
    hash-partitioned by l_orderkey, and o_orderdate is functionally
    dependent on it. No broadcast hint on customer: the shape must also
    hold where a filtered customer is too big to broadcast. Shape
    measurements: OPTIMIZATION_r12.md §q14 and SCALE.md.
    """
    c = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date")
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1998-01-01").cast("date")
    )
    # dim⋈dim first: customer's 5× selectivity shrinks the orderkey side
    # before any fact byte moves, and the fact's join output never
    # re-exchanges by o_custkey.
    oc = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    # fold the two revenue factors into ONE double before the fact's
    # exchange: 24 instead of 32 UnsafeRow bytes per shuffled row. The
    # per-row multiply is the same double op either side of the exchange,
    # so the result is bit-unchanged.
    li = li.select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    if _q14_semi(spark, sf):
        keys = oc.select(F.col("o_orderkey").alias("_sk"))
        li = li.join(
            F.broadcast(keys), F.col("l_orderkey") == F.col("_sk"), "leftsemi"
        )
        j = li.join(oc, F.col("l_orderkey") == F.col("o_orderkey"))
    elif _q14_flat(sf):
        # both dim broadcasts build concurrently, one probe stage
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
            c, F.col("o_custkey") == F.col("c_custkey")
        )
    else:
        j = li.join(oc, F.col("l_orderkey") == F.col("o_orderkey"))
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("_rev")), 4).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(20)
    )


# ----------------------------------------------------------------- aggregates


@query(
    "q15_hash_aggregate",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                            AS sum_qty,
           {money_sum_sql('l_extendedprice')}                   AS sum_base_price,
           {money_sum_sql('l_extendedprice * (1 - l_discount)')}
                                                                AS sum_disc_price,
           round(avg(l_quantity), 4)                            AS avg_qty,
           round(avg(l_extendedprice), 4)                       AS avg_price,
           round(avg(l_discount), 4)                            AS avg_disc,
           round(min(l_extendedprice), 4)                       AS min_price,
           round(max(l_extendedprice), 4)                       AS max_price,
           count(*)                                             AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    category="aggregate",
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape — partial (map-side) agg + final agg, one shuffle.

    Money sums accumulate as unscaled BIGINT (``plans.money``): exact and
    order-independent like round 4's DECIMAL(18,4) accumulation (which
    fixed real 4th-decimal cross-engine drift at 10x volume) but on the
    primitive-long codegen path instead of Spark's object-based Decimal
    aggregate buffer — the DECIMAL fix cost q15 +92% on the headline
    bench (VERDICT r4). Volume bound (2^63) documented in plans/money.py.
    sum_qty stays double: quantities are integer-valued, so their double
    sum is exact below 2^53. avg columns divide the magnitude back down,
    keeping drift far below the rounding boundary."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.round(F.min("l_extendedprice"), 4).alias("min_price"),
            F.round(F.max("l_extendedprice"), 4).alias("max_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q16_distinct",
    oracle="SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    category="aggregate",
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "customer")
        .select("c_mktsegment")
        .distinct()
        .orderBy("c_mktsegment")
    )


@query(
    "q17_count_distinct",
    oracle="SELECT count(DISTINCT o_custkey) AS n_custs FROM orders",
    category="aggregate",
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "orders").agg(
        F.countDistinct("o_custkey").alias("n_custs")
    )


@query(
    "q18_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders FROM orders
    GROUP BY o_custkey HAVING count(*) > 12
    ORDER BY o_custkey
    """,
    category="aggregate",
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") > 12)
        .orderBy("o_custkey")
    )


@query(
    "q19_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS cnt
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    category="aggregate",
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


@query(
    "q20_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    category="aggregate",
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


@query(
    "q21_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           {money_sum_sql('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    category="aggregate",
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    # SQL-text entry point: spark.sql with a DataFrame argument — no temp
    # view state (safe under any session), and the {orders} reference
    # reuses the cached load_table scan instead of re-inferring the
    # parquet footer per build. The money sum accumulates as unscaled
    # BIGINT (plans.money — the () grouping set sums the WHOLE table,
    # ~7.5e10 at 10x volume, where double partials drift across engines;
    # round 4's DECIMAL fix was exact but off the primitive codegen
    # path). The aggregate SQL is BUILT from money_sum_sql on BOTH sides
    # so the dialect-shared text cannot drift.
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               {money_sum_sql('o_totalprice')} AS sum_price
        FROM {{orders}}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """,
        orders=load_table(spark, sf, "orders"),
    )


# -------------------------------------------------------------------- windows


@query(
    "q22_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS INT) AS rn,
           CAST(rank()       OVER w AS INT) AS rk,
           CAST(dense_rank() OVER w AS INT) AS drk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    category="window",
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        load_table(spark, sf, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "q23_window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    category="window",
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load_table(spark, sf, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "q24_window_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
           round(avg(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS sliding_avg
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    category="window",
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load_table(spark, sf, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(
                F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)),
                4,
            ).alias("running_sum"),
            F.round(
                F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4
            ).alias("sliding_avg"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "q25_window_ntile",
    oracle="""
    SELECT c_custkey,
           CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
    FROM customer ORDER BY c_custkey
    """,
    category="window",
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    """Exact global ntile(4) with NO global window.

    A bare ``ntile(4) OVER (ORDER BY ...)`` collapses the table into one
    WindowExec task — the single-reducer cliff at scale. Instead: the
    two-pass global-index idiom (range exchange + per-partition offsets,
    ``operators/indexing.py``) yields the exact 0-based rank ``r`` fully
    distributed, and ntile's bucket is closed-form in (r, n): the first
    ``n mod 4`` buckets hold ``n div 4 + 1`` rows, the rest ``n div 4``.
    The 1-row count aggregate broadcasts; everything else is map-only.
    """
    from final_project_big_data_spark.operators.indexing import with_ntile

    c = load_table(spark, sf, "customer").select("c_custkey", "c_acctbal")
    return (
        with_ntile(c, ["c_acctbal", "c_custkey"], 4, tile_col="quartile")
        .select("c_custkey", "quartile")
        .orderBy("c_custkey")
    )


# -------------------------------------------------------------- sort / set op


@query(
    "q26_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    category="sort",
)
def q26(spark: SparkSession, sf: str) -> DataFrame:
    # orderBy().limit() compiles to TakeOrderedAndProject — per-partition
    # top-k then a k-row merge on the driver; no global sort at any scale.
    return (
        load_table(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q27_sort_multikey",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice FROM lineitem
    ORDER BY l_returnflag ASC, l_extendedprice DESC, l_orderkey, l_linenumber
    """,
    category="sort",
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
        .orderBy(
            F.asc("l_returnflag"),
            F.desc("l_extendedprice"),
            F.asc("l_orderkey"),
            F.asc("l_linenumber"),
        )
    )


@query(
    "q28a_union_all",
    oracle="""
    SELECT name FROM (
      SELECT s_name AS name FROM supplier
      UNION ALL
      SELECT c_name AS name FROM customer
    ) ORDER BY name
    """,
    category="setop",
)
def q28a(spark: SparkSession, sf: str) -> DataFrame:
    s = load_table(spark, sf, "supplier").select(F.col("s_name").alias("name"))
    c = load_table(spark, sf, "customer").select(F.col("c_name").alias("name"))
    return s.unionAll(c).orderBy("name")


@query(
    "q28b_union_distinct",
    oracle="""
    SELECT s_name AS name FROM supplier
    UNION
    SELECT c_name AS name FROM customer
    ORDER BY name
    """,
    category="setop",
)
def q28b(spark: SparkSession, sf: str) -> DataFrame:
    s = load_table(spark, sf, "supplier").select(F.col("s_name").alias("name"))
    c = load_table(spark, sf, "customer").select(F.col("c_name").alias("name"))
    return s.union(c).distinct().orderBy("name")


@query(
    "q29a_intersect",
    oracle="""
    SELECT s_nationkey AS nationkey FROM supplier
    INTERSECT
    SELECT c_nationkey AS nationkey FROM customer
    ORDER BY nationkey
    """,
    category="setop",
)
def q29a(spark: SparkSession, sf: str) -> DataFrame:
    s = load_table(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    c = load_table(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    return s.intersect(c).orderBy("nationkey")


@query(
    "q29b_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
    ORDER BY nationkey
    """,
    category="setop",
)
def q29b(spark: SparkSession, sf: str) -> DataFrame:
    """Customer nations not served by a rich supplier (EXCEPT-distinct).

    The acctbal filter keeps the difference non-empty at every sf.
    """
    c = load_table(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = (
        load_table(spark, sf, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    # subtract == SQL EXCEPT (distinct); exceptAll would be multiset minus.
    return c.subtract(s).orderBy("nationkey")


# ----------------------------------------------------------- scalar functions


@query(
    "q30_string_fns",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                          AS up,
           lower(p_brand)                         AS lo,
           substr(p_name, 1, 5)                   AS s5,
           CAST(length(p_name) AS INT)            AS name_len,
           trim(concat(' ', p_name, ' '))         AS trimmed,
           concat(p_brand, '-', p_type)           AS brand_type,
           replace(p_name, 'a', '_')              AS repl,
           lpad(p_brand, 12, '*')                 AS padded
    FROM part ORDER BY p_partkey
    """,
    category="scalar",
)
def q30(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    return sorted_project(
        p,
        ["p_partkey"],
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.substring("p_name", 1, 5).alias("s5"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.concat(F.col("p_brand"), F.lit("-"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_name"), F.lit("a"), F.lit("_")).alias("repl"),
        F.lpad("p_brand", 12, "*").alias("padded"),
    )


@query(
    "q31_regexp",
    oracle=r"""
    SELECT p_partkey, regexp_extract(p_brand, '#(\d+)', 1) AS brand_num
    FROM part WHERE regexp_matches(p_name, 'bolt|rod')
    ORDER BY p_partkey
    """,
    category="scalar",
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    return (
        p.filter(F.col("p_name").rlike("bolt|rod"))
        .select(
            "p_partkey",
            F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q32a_date_parts",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT)  AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           count(*) AS cnt,
           {money_sum_sql('o_totalprice')} AS sum_price
    FROM orders GROUP BY 1, 2 ORDER BY yr, mo
    """,
    category="scalar",
)
def q32a(spark: SparkSession, sf: str) -> DataFrame:
    # money sum via plans.money: year-month group sums reach ~4.3e10 at
    # the 100x probe, where raw double sums drift in the 4th decimal
    # between engines (caught by the first guarded 100x sweep, round 5)
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(
            F.count("*").alias("cnt"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .orderBy("yr", "mo")
    )


@query(
    "q32b_date_trunc",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(hour(ts) AS INT) AS hr,
           count(*) AS cnt,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY day, hr
    """,
    category="scalar",
)
def q32b(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.hour("ts").alias("hr"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("day", "hr")
    )


@query(
    "q33_math_fns",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {fixed_render_sql('abs(l_quantity - 25.0)')}    AS abs_v,
           {fixed_render_sql('sqrt(l_extendedprice)')}     AS sqrt_v,
           {fixed_render_sql('ln(l_extendedprice)')}       AS ln_v,
           {fixed_render_sql('power(1 + l_discount, 2)')}  AS pow_v,
           CAST(floor(l_extendedprice) AS BIGINT)  AS floor_v,
           CAST(ceil(l_extendedprice) AS BIGINT)   AS ceil_v,
           l_orderkey % 7                          AS mod_v
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    category="scalar",
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    # sorted_project: the range-sort sampling pass then reads only the keys
    # instead of evaluating the math chain twice (3x at sf0.1, see plans/).
    # Per-row rendering is fixed_render (floor form, plans/money.py) on
    # BOTH sides: equal to round(·,4) off half-integer ties, ~30x cheaper
    # per row than Spark's BigDecimal ROUND, and ulp-stable cross-engine.
    li = load_table(spark, sf, "lineitem")
    return sorted_project(
        li,
        ["l_orderkey", "l_linenumber"],
        "l_orderkey",
        "l_linenumber",
        fixed_render(F.abs(F.col("l_quantity") - 25.0)).alias("abs_v"),
        fixed_render(F.sqrt("l_extendedprice")).alias("sqrt_v"),
        fixed_render(F.log("l_extendedprice")).alias("ln_v"),
        fixed_render(F.pow(F.lit(1) + F.col("l_discount"), 2)).alias("pow_v"),
        F.floor("l_extendedprice").alias("floor_v"),
        F.ceil("l_extendedprice").alias("ceil_v"),
        (F.col("l_orderkey") % 7).alias("mod_v"),
    )


@query(
    "q34_casts",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR)                   AS key_str,
           CAST(trunc(o_totalprice) AS BIGINT)           AS price_int,
           CAST(o_custkey AS DOUBLE)                     AS cust_dbl,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR)    AS date_str,
           CAST('123' AS INT)                            AS lit_int
    FROM orders ORDER BY o_orderkey
    """,
    category="scalar",
)
def q34(spark: SparkSession, sf: str) -> DataFrame:
    # NB: Spark double→long cast truncates toward zero; DuckDB's rounds —
    # the oracle uses trunc() to pin the shared semantics.
    o = load_table(spark, sf, "orders")
    return sorted_project(
        o,
        ["o_orderkey"],
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_totalprice").cast("long").alias("price_int"),
        F.col("o_custkey").cast("double").alias("cust_dbl"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        F.lit("123").cast("int").alias("lit_int"),
    )


@query(
    "q35_array_fns",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT)                AS n_dims,
           round(CAST(embedding[1]  AS DOUBLE), 4)    AS e_first,
           round(CAST(embedding[64] AS DOUBLE), 4)    AS e_last,
           label
    FROM embeddings ORDER BY vec_id
    """,
    category="array",
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("e_first"),
        F.round(F.element_at("embedding", 64).cast("double"), 4).alias("e_last"),
        "label",
    ).orderBy("vec_id")


@query(
    "q36_explode",
    oracle="""
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
           round(CAST(unnest(embedding) AS DOUBLE), 4)        AS val
    FROM embeddings WHERE vec_id < 20
    ORDER BY vec_id, pos
    """,
    category="array",
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 20)
    return (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "raw"))
        .select(
            "vec_id", "pos", F.round(F.col("raw").cast("double"), 4).alias("val")
        )
        .orderBy("vec_id", "pos")
    )


@query(
    "q37_json_fns",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int
    FROM events ORDER BY event_id
    """,
    category="json",
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return sorted_project(
        e,
        ["event_id"],
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


# ------------------------------------------------------------------ subquery


@query(
    "q38_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    ORDER BY o_orderkey
    """,
    category="subquery",
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    avg_df = o.agg(F.avg("o_totalprice").alias("global_avg"))
    # scalar subquery → 1-row broadcast cross join (no shuffle of the fact).
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("global_avg"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "q39_correlated_subquery",
    oracle="""
    WITH co AS (
      SELECT c.c_custkey, c.c_mktsegment, o.o_totalprice
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    ),
    seg AS (SELECT c_mktsegment, avg(o_totalprice) AS seg_avg FROM co GROUP BY 1),
    cm  AS (SELECT c_custkey, c_mktsegment, max(o_totalprice) AS max_raw
            FROM co GROUP BY 1, 2)
    SELECT cm.c_custkey, round(cm.max_raw, 4) AS max_price
    FROM cm JOIN seg ON cm.c_mktsegment = seg.c_mktsegment
    WHERE cm.max_raw > seg.seg_avg
    ORDER BY cm.c_custkey
    """,
    category="subquery",
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    """Decorrelated form: customers whose max order beats their segment avg."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    co = c.join(o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_mktsegment", "o_totalprice"
    )
    seg = co.groupBy("c_mktsegment").agg(F.avg("o_totalprice").alias("seg_avg"))
    cm = co.groupBy("c_custkey", "c_mktsegment").agg(
        F.max("o_totalprice").alias("max_raw")
    )
    return (
        cm.join(F.broadcast(seg), "c_mktsegment")
        .filter(F.col("max_raw") > F.col("seg_avg"))
        .select("c_custkey", F.round("max_raw", 4).alias("max_price"))
        .orderBy("c_custkey")
    )


@query(
    "q40_json_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_returnflag AS rt_flag,
           l_quantity   AS rt_qty,
           TRUE         AS roundtrip_ok
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    category="json",
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    """Reference O15/O22 parity: to_json(struct(...)) → from_json → flatten.

    Mirrors the producer's encode (``producer.py:23-24``) piped into the
    scorer's decode (``predict.py:30-32``); asserts the round trip is the
    identity field-by-field.
    """
    # sort first: the to_json/from_json chain is evaluated once, after the
    # range exchange (projections preserve the sorted order).
    li = load_table(spark, sf, "lineitem").orderBy("l_orderkey", "l_linenumber")
    payload_schema = "l_orderkey BIGINT, l_linenumber INT, l_returnflag STRING, l_quantity DOUBLE"
    encoded = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.to_json(
            F.struct("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        ).alias("payload"),
    )
    decoded = encoded.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.from_json("payload", payload_schema).alias("data"),
    )
    return decoded.select(
        "l_orderkey",
        "l_linenumber",
        F.col("data.l_returnflag").alias("rt_flag"),
        F.col("data.l_quantity").alias("rt_qty"),
        (
            (F.col("data.l_orderkey") == F.col("l_orderkey"))
            & (F.col("data.l_linenumber") == F.col("l_linenumber"))
            & (F.col("data.l_returnflag") == F.col("l_returnflag"))
            & (F.col("data.l_quantity") == F.col("l_quantity"))
        ).alias("roundtrip_ok"),
    )
