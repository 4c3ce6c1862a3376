"""Custom-connector driver entries (Python Data Source API surface).

x04 reads through the ``synthdocs`` Python data source — a real
``spark.read.format(...)`` connector with partition-planned parallel
reads — and the DuckDB oracle regrows the identical rows from the
closed form, so the whole connector path (plan → per-partition read →
Arrow transfer → downstream exprs) is value-hash-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from final_project_big_data_spark.queries import query
from final_project_big_data_spark.sources.pydatasource import register_sources

_N_DOCS = 500
_N_PARTS = 8


@query(
    "x04_python_datasource",
    oracle=f"""
    SELECT range AS doc_id,
           CAST(range % 4 AS INT) AS shard,
           'w' || CAST(range % 7 AS VARCHAR)
           || ' w' || CAST((range * 3) % 11 AS VARCHAR)
           || ' w' || CAST((range * 7) % 13 AS VARCHAR) AS text,
           CAST(3 AS INT) AS n_tokens
    FROM range({_N_DOCS}) ORDER BY doc_id
    """,
    category="source",
)
def x04(spark: SparkSession, sf: str) -> DataFrame:
    """Read via the custom ``synthdocs`` Python data source (8 planned
    input partitions → 8 parallel executor reads; see
    ``sources/pydatasource.py``) with a downstream JVM-side expression on
    top — the oracle recomputes every row from the source's closed form.
    """
    register_sources(spark)
    d = (
        spark.read.format("synthdocs")
        .option("n", _N_DOCS)
        .option("partitions", _N_PARTS)
        .load()
    )
    return d.select(
        "doc_id",
        "shard",
        "text",
        F.size(F.split("text", " ")).alias("n_tokens"),
    ).orderBy("doc_id")


_PR_ITER = 5
_PR_D = 0.85


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank CTE chain — the exact mirror of
    operators/pagerank.py's loop, including the per-iteration ROUND(·,10)
    that keeps both engines' floating accumulation aligned."""
    iters = "".join(
        f""",
    pr{i + 1} AS (
      SELECT n.node,
             ROUND({1 - _PR_D:.2f} / nn.n_nodes
                   + {_PR_D} * COALESCE(fl.inflow, 0), 10) AS rank
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (SELECT e.dst, SUM(p.rank / d.deg) AS inflow
                 FROM pr{i} p JOIN edges e ON p.node = e.src
                 JOIN deg d ON e.src = d.src
                 GROUP BY e.dst) fl ON fl.dst = n.node
    )"""
        for i in range(_PR_ITER)
    )
    return f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey % 97 AS src, o_orderkey % 89 AS dst
      FROM orders WHERE o_orderkey < 2000
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n_nodes FROM nodes),
    pr0 AS (SELECT node, 1.0 / nn.n_nodes AS rank FROM nodes CROSS JOIN nn)
    {iters}
    SELECT node, ROUND(rank, 6) AS rank FROM pr{_PR_ITER} ORDER BY node
    """


@query("x05_pagerank", oracle=_pagerank_oracle(), category="graph")
def x05(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-iteration PageRank over a deterministic orders-derived edge
    set (``operators/pagerank.py``) — the iterative-algorithm family next
    to d07's connected components, exactly oracle-checked against the
    unrolled recursive SQL.

    ``bounded_graph=True``: the edge set is ≤2000 rows at ANY scale
    factor (``o_orderkey < 2000`` + modulo-classed endpoints), so the
    iteration broadcasts it instead of shuffling the rank frame three
    times per round (see pagerank's docstring).
    """
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.operators.pagerank import pagerank

    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") < 2000)
    edges = o.select(
        (F.col("o_custkey") % 97).alias("src"),
        (F.col("o_orderkey") % 89).alias("dst"),
    )
    pr = pagerank(edges, n_iter=_PR_ITER, damping=_PR_D, bounded_graph=True)
    return pr.select("node", F.round("rank", 6).alias("rank")).orderBy("node")


_TRI_MIN_QTY = 50  # co-supply edge = two suppliers ship the same part at max qty


@query(
    "x08_triangle_count",
    oracle=f"""
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_quantity >= {_TRI_MIN_QTY}
    ),
    edges AS (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    n AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node AS s_suppkey, count(*) AS n_triangles
    FROM n GROUP BY node ORDER BY s_suppkey
    """,
    category="graph",
)
def x08(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle counts on the supplier co-supply graph, via
    degree-oriented wedge counting (the MPC-standard algorithm).

    Graph: nodes = suppliers, undirected edge when two suppliers both
    ship the same part at max quantity. Edge generation is BLOCKED on
    ``l_partkey`` (sorted collect_set + pair expansion per part, like
    d07's band buckets) — suppliers-per-part is data-bounded, so no
    global O(n²) exists. Counting then orients every edge from the
    endpoint with the smaller ``(degree, id)`` to the larger, which
    bounds out-degree at O(√m) on any graph — wedges (two out-edges of
    one node) joined back to the oriented edge list touch each triangle
    exactly once. The oracle intentionally uses the OTHER formulation
    (canonical a<b<c triple join) so two independent algorithms must
    agree on every per-node count.
    """
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.operators.components import sorted_pairs

    ps = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_quantity") >= _TRI_MIN_QTY)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    edges = (
        ps.groupBy("l_partkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(sorted_pairs()).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e = edges.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    rank_a = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    rank_b = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    lower_first = rank_a < rank_b
    oriented = e.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(lower_first, rank_b).otherwise(rank_a).alias("dst_rank"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.dst_rank") < F.col("o2.dst_rank")),
    ).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"])
    return (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("s_suppkey")
        )
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy("s_suppkey")
    )


_BFS_ITER = 6
_BFS_SRC = 0


def _bfs_oracle() -> str:
    """Unrolled fixed-iteration BFS relaxation CTE chain — the min-plus
    mirror of x05's weighted-sum chain. ``least``/``min`` skip NULLs
    identically in both engines (NULL = unreached), so the frontier
    arithmetic needs no sentinel distances."""
    iters = "".join(
        f""",
    d{i + 1} AS (
      SELECT n.node, least(d.dist, r.via) AS dist
      FROM nodes n JOIN d{i} d ON d.node = n.node
      LEFT JOIN (SELECT e.dst AS node, min(p.dist + 1) AS via
                 FROM d{i} p JOIN edges e ON p.node = e.src
                 GROUP BY e.dst) r ON r.node = n.node
    )"""
        for i in range(_BFS_ITER)
    )
    return f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey % 97 AS src, o_orderkey % 89 AS dst
      FROM orders WHERE o_orderkey < 2000
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    d0 AS (
      SELECT node, CASE WHEN node = {_BFS_SRC} THEN 0 END AS dist FROM nodes
    )
    {iters}
    SELECT node, CAST(dist AS INT) AS dist FROM d{_BFS_ITER} ORDER BY node
    """


@query("x09_bfs_distance", oracle=_bfs_oracle(), category="graph")
def x09(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-iteration single-source shortest paths (BFS relaxation) over
    the same directed orders-derived edge set as x05 — the min-plus
    member of the iterative family (components = min-label, PageRank =
    weighted sum, BFS = min-plus). {k} unrolled relaxation rounds: each
    joins the frontier to the edge list, takes ``min(dist+1)`` per
    destination (map-side combinable hash-agg), and merges with the
    running distances via a NULL-skipping ``least`` — NULL is
    "unreached", so no infinity sentinel exists in either engine.
    Unreachable nodes stay NULL in the output, value-hash-checked.

    Like x05 the loop is UNROLLED into one lazy plan (no build-time
    jobs): at 100 TB each round is one shuffle on dst, and a real
    cluster run would localCheckpoint every few rounds to truncate
    lineage exactly as operators/components.py does. (No
    ``localCheckpoint(eager=False)`` per round here: under AQE a lazy
    local checkpoint still materializes all upstream query stages at
    BUILD time, breaking the zero-jobs contract and moving compute
    outside the caller's timed action.)

    Shuffles removed outright (SCALE.md, "Same-day sf0.1 A/B": x09
    1.206 → 0.551 s): the edge set is BOUNDED BY CONSTRUCTION
    (``o_orderkey < 2000`` ⇒ ≤2000 edges over ≤97+89 modulo-classed
    nodes at ANY scale factor), so the per-round relaxation joins a
    BROADCAST step relation (real edges at weight 1 + a weight-0
    self-loop per node — see the inline comment) and the iterating
    ``dist`` frame only crosses the one tiny min-agg exchange per round
    (previously three exchanges; min-plus over integers, so join
    strategy cannot change any value). The self-loop makes each round
    reference the previous round ONCE, collapsing the 2^k logical-plan
    growth of the old dist⟕relax(dist) merge to linear. A frontier that GREW with the data would instead keep the
    shuffle and checkpoint per round.
    """
    from final_project_big_data_spark.io import load_table

    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") < 2000)
    edges = (
        o.select(
            (F.col("o_custkey") % 97).alias("src"),
            (F.col("o_orderkey") % 89).alias("dst"),
        )
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Min-plus STEP relation: the real edges at weight 1 plus
    # a weight-0 self-loop per node, so one join + one min-aggregation
    # computes d' (v) = min(d(v)+0, min_{u→v} d(u)+1) — identical to the
    # old least(dist, relax) merge (min and least both skip NULLs; a
    # node whose group is all-NULL stays NULL = unreached). ``dist`` is
    # now referenced ONCE per round: the old dist⟕relax(dist) shape
    # embedded the previous round's plan TWICE, so the logical tree grew
    # 2^k with rounds and driver analysis dominated wall; this one grows
    # linearly, and the constant ``steps`` subtree broadcast is planned
    # once and reused by every round.
    steps = edges.select("src", "dst", F.lit(1).alias("w")).unionByName(
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(0).alias("w"),
        )
    )
    dist = nodes.select(
        "node", F.when(F.col("node") == _BFS_SRC, 0).alias("dist")
    )
    for _ in range(_BFS_ITER):
        dist = (
            dist.join(F.broadcast(steps), F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("dist"))
        )
    return dist.select(
        "node", F.col("dist").cast("int").alias("dist")
    ).orderBy("node")


x09.__doc__ = x09.__doc__.format(k=_BFS_ITER)
