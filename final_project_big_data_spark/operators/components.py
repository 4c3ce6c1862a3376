"""Connected components by iterative min-label propagation.

The missing step between near-dup *pair* generation (LSH/Jaccard/cosine)
and actually deduplicating a corpus: pairs form a graph, and each document
keeps the minimum doc_id of its component as the canonical representative.

Spark shape: a driver-side loop of joins — each iteration sends every
node's current label across the (symmetrized) edge list and takes the min.
Converges in O(graph diameter) iterations; dup clusters are shallow (stars
/ short chains), so 3-5 iterations cover real corpora. Each iteration is
one shuffle join + one aggregation — at 100 TB this is the standard
iterate-until-fixpoint pattern (persist the frontier, checkpoint lineage
every few rounds); for adversarially deep graphs switch to the
large-star/small-star variant (O(log n) rounds), same building blocks.

Oracle: DuckDB ``WITH RECURSIVE`` reachability (queries/dedup.py d07).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sorted_pairs() -> Column:
    """Every ``(a, b)`` pair with ``a < b`` of an ascending ``ids`` array,
    as array<struct<a, b>>: element i pairs with each later element, so a
    bucket of size s yields s·(s-1)/2 structs and no self-pairs. The
    candidate-edge expansion of every blocked pair generator (LSH bands,
    mh0 buckets, d15's shingle postings, x08's per-part suppliers); the
    output is quadratic in the bucket, which ``lsh_candidate_pairs``
    caps before exploding it."""
    return F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids) - i - 1),"
        " y -> struct(x AS a, y AS b))))"
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "a",
    dst_col: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Return (id, cluster_id) where cluster_id = min node id reachable.

    ``nodes``: one column ``id_col``; ``edges``: undirected pairs
    (``src_col``, ``dst_col``). Isolated nodes keep their own id.
    """
    # caching pins the physical partitioning (AQE cannot re-coalesce a
    # cached plan), so choose it explicitly: hash-partition both working
    # sets on their join keys at defaultParallelism width. Every loop join
    # is then co-partitioned (zero extra exchange) and no stage inherits a
    # foreign session's 200-partition default. Duplicate edges are NOT
    # deduped — min-propagation is idempotent and a distinct() would cost
    # a full (src,dst) shuffle per run for no semantic gain.
    n_parts = nodes.sparkSession.sparkContext.defaultParallelism

    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    sym = sym.repartition(n_parts, "src").persist()

    labels = (
        nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
        .repartition(n_parts, "id")
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        msgs = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), "label")
        )
        # eager localCheckpoint, NOT persist: each round's plan embeds the
        # previous round's labels twice (union + convergence join), so an
        # uncheckpointed logical plan doubles per iteration — 2^d nodes on
        # a diameter-d graph; merely rendering the plan string OOMs the
        # driver around d≈30. Checkpointing flattens labels to a leaf each
        # round, keeping every round's plan constant-size.
        new_labels = (
            labels.select("id", "label")
            .union(msgs)
            .repartition(n_parts, "id")
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "a",
    dst_col: str = "b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round companion to ``connected_components``'s
    O(diameter) label propagation, for adversarially deep graphs (long
    chains) where diameter ≫ log n.

    Both star operations are PURELY relational — a min-aggregate per node
    joined back to the symmetrized edge list; no per-node adjacency array
    is ever collected, so a billion-edge star center costs a groupBy key,
    not a collect_list:

    - large-star: every neighbor v > u re-links to m(u) = min(Γ(u) ∪ {u})
    - small-star: every neighbor v ≤ u (and u itself) re-links to
      m⁻(u) = min of that down-neighborhood

    Each round is two shuffle-join/agg pairs plus an edge distinct();
    convergence (edge set is a fixpoint of both stars) is detected by an
    order-insensitive checksum, avoiding a full DataFrame comparison.
    Returns (id, cluster_id) like ``connected_components``.
    """
    spark = nodes.sparkSession
    n_parts = spark.sparkContext.defaultParallelism

    # eager localCheckpoint (not persist) each round: star rounds reference
    # the prior edge set several times (two symmetrizations + a union), so
    # an uncheckpointed lineage grows exponentially with iterations — by
    # round ~15 merely *printing* the plan OOMs the driver. Checkpointing
    # truncates to the materialized blocks, keeping every round's plan flat.
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(n_parts, "u")
        .localCheckpoint(eager=True)
    )

    def _sym(df: DataFrame) -> DataFrame:
        return df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _checksum(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v") % F.lit(2**31 - 1)), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    prev = _checksum(e)
    for _ in range(max_iter):
        # ---- large-star: (u,v) with v > u  →  (v, m(u))
        sym = _sym(e)
        m_all = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e_ls = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m_all, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # ---- small-star on the re-linked edges: down-neighborhood mins
        sym2 = _sym(e_ls)
        down = sym2.filter(F.col("v") <= F.col("u"))
        m_down = down.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            down.join(m_down, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m_down.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        new_e = relink.distinct().repartition(n_parts, "u").localCheckpoint(
            eager=True
        )
        cur = _checksum(new_e)
        e = new_e
        if cur == prev:
            break
        prev = cur

    # fixpoint edges form stars u → root; isolated nodes label themselves
    roots = e.groupBy("u").agg(F.min("v").alias("root"))
    labels = (
        nodes.select(F.col(id_col).alias("id"))
        .join(roots, F.col("id") == F.col("u"), "left")
        .select(
            "id",
            F.least(
                F.coalesce(F.col("root"), F.col("id")), F.col("id")
            ).alias("cluster_id"),
        )
    )
    return labels.localCheckpoint(eager=True)
