"""Plan-shape rewrites the engine applies above Catalyst.

``sorted_project`` — evaluate expensive projections AFTER a global sort.

Why: a global ``orderBy`` becomes a range exchange, and Spark's
``RangePartitioner`` first runs a **sampling pass over the entire child
plan** to pick range bounds. If the child contains expensive expressions
(math/regexp/JSON scalar chains, Python/pandas UDFs), they are evaluated
twice — once for the sample, once for the real exchange. Catalyst does not
pull projections up through sorts, so the engine does it at plan-build time
whenever (a) the sort keys are plain input columns and (b) the projection
doesn't change cardinality. Measured at sf0.1: 3× on a math-heavy scan
(2.18 s → 0.74 s), because the sampling pass then reads only the narrow
sort-key columns.

At 100 TB the effect is larger, not smaller: the sampling pass scans the
full input, so anything above the scan runs at full-data cost twice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def sorted_project(
    df: DataFrame, keys: list[str], *cols: Column | str
) -> DataFrame:
    """``df.select(*cols).orderBy(*keys)`` with the projection evaluated
    after the sort (order-preserving: a narrow projection keeps partition
    order, and the range exchange already fixed inter-partition order).

    ``keys`` must be plain columns of ``df`` (they are what the range
    partitioner samples); ``cols`` is the full output projection and may
    reference any column of ``df``. Catalyst's ColumnPruning still narrows
    the scan below the sort to the columns the projection references — the
    only thing moved up is expression *evaluation*.
    """
    return df.orderBy(*keys).select(*cols)


def range_presorted(df: DataFrame, *keys: str) -> DataFrame:
    """Range-partition + locally sort ``df`` on ``keys`` so a LATER global
    ``orderBy(*keys)`` above order-preserving operators is satisfied for
    free — the "interesting order" push-down Catalyst doesn't do.

    Why this exists: ``join(...).orderBy(keys)`` makes the range exchange
    sample and then shuffle the JOIN OUTPUT — the sampling pass re-executes
    the whole join (RangePartitioner's bounds pass runs the child plan
    twice). When the sort keys all come from the streamed fact side of a
    broadcast join, pre-partitioning the narrow fact projection instead
    means: the sampling pass scans only the fact's key columns, the join
    output never re-shuffles (BroadcastHashJoin preserves the streamed
    side's partitioning and per-partition order), and ``EnsureRequirements``
    recognizes the final ``orderBy`` as already satisfied — no second
    exchange, no second sort. Measured at sf0.1 on q06: 1.21 s → 0.71 s;
    at 100 TB the avoided join re-execution dominates.

    A plain ``orderBy`` below a join would be ELIMINATED by Catalyst's
    ``EliminateSorts`` (joins don't "require" child order); a user-specified
    ``repartitionByRange`` + ``sortWithinPartitions`` is contractual and
    survives. Keep the final ``orderBy`` in the query — it states the
    semantic contract and compiles to a no-op when satisfied.

    Partition count comes from ``spark.sql.shuffle.partitions`` (omitted
    here), so cluster submitters keep control.
    """
    return df.repartitionByRange(*keys).sortWithinPartitions(*keys)


def range_presorted_for_join(
    df: DataFrame, build_side: DataFrame, *keys: str
) -> DataFrame:
    """:func:`range_presorted` applied ONLY when the upcoming equi-join
    with ``build_side`` will execute as a broadcast join.

    The presort trick is conditional on BroadcastHashJoin preserving the
    streamed side's partitioning and order. Once the build side outgrows
    ``spark.sql.autoBroadcastJoinThreshold`` the planner falls back to a
    key shuffle, the pre-established range order is destroyed, and the
    final ``orderBy`` re-sorts — the presort is then paid AND thrown
    away (measured at the 100× probe: q06 range-sorts a 60M-row fact
    twice). The decision here reads the SAME inputs the planner reads —
    Catalyst's optimized-plan size estimate for the build side against
    the session's broadcast threshold — so it tracks the planner's
    choice instead of guessing. Estimate unavailable (non-JVM session
    edge cases) → keep the presort, the small-data status quo.
    """
    try:
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        thresh = conf.autoBroadcastJoinThreshold()
        # py4j converts the BigInt to a Python int on current Spark;
        # str() round-trip also covers versions where it stays a JavaObject
        est = int(
            str(
                build_side._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:  # noqa: BLE001 — conservative fallback
        return range_presorted(df, *keys)
    if 0 <= est <= thresh:
        return range_presorted(df, *keys)
    return df


def tiny_sorted(df: DataFrame, *keys: str) -> DataFrame:
    """Global sort for provably-TINY outputs (top-k-per-group results,
    bounded by k × #groups): one round-robin shuffle into a single
    partition + in-partition sort.

    Why not ``orderBy``: the range exchange's sampling pass RE-EXECUTES
    the child plan to pick bounds (for s01 that is the whole
    window-rank-over-join pipeline, run twice — measured 0.271 s vs
    0.184 s at sf0.1). For an output bounded at a few hundred rows the
    bounds are worthless anyway: the data fits one task. ``repartition(1)``
    (not ``coalesce(1)``, which would collapse the UPSTREAM stages to a
    single task and serialize the scan/join work) keeps the heavy plan
    fully parallel and moves only the tiny result through one shuffle.

    Use ONLY where the row count is structurally bounded by the query
    shape (rank ≤ k filters); a data-sized output would serialize.
    """
    return df.repartition(1).sortWithinPartitions(*keys)
