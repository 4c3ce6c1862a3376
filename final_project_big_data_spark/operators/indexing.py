"""Global row indexing — ``zipWithIndex`` semantics, DataFrame-first.

A training-data pipeline constantly needs a stable, dense, 0-based global
row id — for sharding, example numbering, and join-back after shuffling.
Spark has no scalable built-in: ``monotonically_increasing_id`` leaves
gaps between partitions, and ``row_number() OVER (ORDER BY ...)`` with no
PARTITION BY collapses the whole table into ONE window task — the
classic single-reducer cliff at 100 TB.

This operator composes the scalable two-pass idiom from built-in ops:

1. range-repartition + local sort on the order key (the same exchange a
   global ``orderBy`` performs — partition *p* holds keys strictly below
   partition *p+1*);
2. a tiny side job sums the value per physical partition (groupBy on
   ``spark_partition_id()`` — #partitions rows, not data rows; the value
   is 1 for the row index), folded into exclusive prefix-sum offsets
   with a higher-order ``aggregate`` over one collected array (no
   unpartitioned window anywhere — even a #partitions-row WindowExec
   logs the single-partition warning);
3. a broadcast join maps each partition to its offset, and a window
   partitioned BY PARTITION ID adds the local running sum.

No single-task stage ever sees more than one partition of data; the only
full-data movements are the range exchange (pass 1) and the hash exchange
on partition id for the window (narrow rows). The driver touches
#partitions integers, never rows.

The reference has no such operator (it has no global ordering at all —
SURVEY.md §2.1); this is part of the training-data-pipeline extension
surface mandated by the build brief.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

_PID = "_gidx_pid"
_OFFSET = "_gidx_offset"

#: LIFO stack of open pin scopes; each is the list of frames persisted by
#: indexing operators built while the scope was innermost.
_ACTIVE_SCOPES: list[list[DataFrame]] = []


@contextmanager
def index_pin_scope():
    """Bound the lifetime of the MEMORY_AND_DISK pins these operators hold
    (round 12, VERDICT r11 #5).

    The persist is correctness-critical WITHIN a query (it pins one
    materialization of the sampled range boundaries for both plan
    subtrees — the r11 row-loss fix) but holds blocks AFTER the query
    until the ContextCleaner's periodic GC (engine default: 5 min), so a
    long-lived session issuing many indexed queries accumulates dead
    blocks between ticks. Callers that OWN the action — the streaming
    replay builders, any materialize-then-move-on pipeline — wrap build
    + action in this scope; on exit every pin created inside is
    ``unpersist(blocking=False)``-ed immediately.

    Per-query unpersist inside the operator itself would be UNSOUND, so
    it is deliberately absent: the pin must outlive the caller's action
    (unpersisting earlier re-samples boundaries per subtree — the exact
    r11 corruption), the operator never sees that action, and
    CacheManager entries are canonical-plan-keyed, so dropping one
    query's pin can yank the cache out from under a concurrent identical
    query mid-action. Lazy registry builders therefore keep the
    periodic-GC bound (measured flat at steady state —
    SCALE.md round 12, "Indexing operator"); eager internal call
    sites use this scope and hold zero blocks after returning.
    """
    pins: list[DataFrame] = []
    _ACTIVE_SCOPES.append(pins)
    try:
        yield
    finally:
        _ACTIVE_SCOPES.remove(pins)
        for f in pins:
            try:
                f.unpersist(False)
            except Exception:  # noqa: BLE001 — session may already be gone
                pass


def _register_pin(tagged: DataFrame) -> None:
    if _ACTIVE_SCOPES:
        _ACTIVE_SCOPES[-1].append(tagged)


def with_global_index(
    df: DataFrame,
    order_cols: list[str | Column],
    index_col: str = "row_index",
) -> DataFrame:
    """Append a dense 0-based ``index_col`` numbering rows by ``order_cols``
    (names or sort expressions like ``F.desc(...)``): the exclusive
    :func:`with_prefix_sum` of a constant 1.

    ``order_cols`` must be a total order (include a unique tiebreak) for the
    index to be deterministic.
    """
    return with_prefix_sum(df, order_cols, F.lit(1), index_col)


def with_prefix_sum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str | Column,
    sum_col: str = "prefix_sum",
) -> DataFrame:
    """Append the EXCLUSIVE prefix sum of integer ``value_col`` (a column
    name or expression) over a global ordering — ``sum(value) over
    (order by ... rows unbounded preceding to 1 preceding)`` semantics
    WITHOUT the unpartitioned window (which collapses the table into one
    WindowExec task).

    Two passes: range-exchange on the order key, a #partitions-row side
    aggregate folded into per-partition exclusive offsets, broadcast
    back, plus a partition-local running sum. Drives t11's sequence
    packing (token offsets over a corpus) and, over a constant 1,
    :func:`with_global_index`; any "cut a concatenated stream every L
    units" operator reduces to this.

    ``order_cols`` must be a total order (unique tiebreak) for
    determinism; ``value_col`` must be integral (offsets are exact longs).

    The ``tagged`` frame is persisted (MEMORY_AND_DISK) before the
    offsets branch: the plan references it from TWO subtrees (the
    pid-sum aggregate and the main join side) whose range exchanges
    are planned independently — and a RangePartitioner SAMPLES its
    boundaries with an RDD-id-derived seed, so the two subtrees can
    land DIFFERENT boundaries once the sample is partial. At fixture
    scale the sample covers every row and the hazard is invisible; at
    the 1000× replay build (100M rows) the branches disagreed and the
    pid-keyed offsets inner join silently dropped 65% of the rows.
    Persisting pins one materialization of the partitioning for every
    consumer; the cache is dropped by the ContextCleaner when the frame
    is GC'd (the engine's 2–5 min periodic-GC keeps that bounded), or on
    leaving an :func:`index_pin_scope`. Known residual: an executor loss
    on a real cluster recomputes lost blocks with fresh boundaries —
    checkpoint() the input instead where that matters more than the
    extra write.
    """
    from pyspark import StorageLevel

    val = (F.col(value_col) if isinstance(value_col, str) else value_col).cast("long")
    ranged = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    tagged = ranged.withColumn(_PID, F.spark_partition_id()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _register_pin(tagged)

    # coalesce the per-partition sum: SUM over an all-NULL partition is
    # NULL, and the fold's `st.acc + x.n` would poison every later
    # partition's offset — the window spelling this replaces skips NULLs
    counts = tagged.groupBy(_PID).agg(F.coalesce(F.sum(val), F.lit(0)).alias("_n"))
    # #partitions integers → one row → exclusive prefix sum via a
    # higher-order aggregate (pid-sorted), exploded back to (pid, offset)
    packed = counts.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(_PID).alias("pid"), F.col("_n").alias("n")))
        ).alias("cs")
    )
    prefix = F.expr(
        "aggregate(cs,"
        " struct(cast(0 as bigint) as acc,"
        "        cast(array() as array<struct<pid:int, off:bigint>>) as out),"
        " (st, x) -> struct(st.acc + x.n as acc,"
        "                   concat(st.out, array(struct(x.pid as pid,"
        "                                               st.acc as off))) as out),"
        " st -> st.out)"
    )
    offsets = packed.select(F.explode(prefix).alias("po")).select(
        F.col("po.pid").alias(_PID), F.col("po.off").alias(_OFFSET)
    )
    w_local = (
        W.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(val).over(w_local), F.lit(0))
    return (
        tagged.join(F.broadcast(offsets), _PID)
        .withColumn(sum_col, (F.col(_OFFSET) + local).cast("long"))
        .drop(_PID, _OFFSET)
    )


def with_ntile(
    df: DataFrame,
    order_cols: list[str | Column],
    n: int,
    tile_col: str = "tile",
) -> DataFrame:
    """Exact 1-based ``ntile(n)`` over a GLOBAL ordering without a global
    window (which would collapse the table into one WindowExec task).

    Composes :func:`with_global_index` (distributed exact rank ``r``) with
    ntile's closed form in (r, total): the first ``total mod n`` tiles get
    ``total div n + 1`` rows, the rest ``total div n``. The 1-row count
    aggregate broadcasts; tile assignment is map-only.
    """
    idx = with_global_index(df, order_cols, index_col="_nt_r")
    n1 = df.groupBy().agg(F.count(F.lit(1)).alias("_nt_n"))
    return (
        idx.crossJoin(F.broadcast(n1))
        .withColumn("_nt_base", F.expr(f"_nt_n div {n}"))
        .withColumn("_nt_rem", F.col("_nt_n") % n)
        .withColumn(
            tile_col,
            (
                F.when(
                    F.col("_nt_r") < F.col("_nt_rem") * (F.col("_nt_base") + 1),
                    F.expr("_nt_r div (_nt_base + 1)"),
                ).otherwise(
                    # greatest() guards ANSI div-by-zero when rows < n
                    # (branch unreachable then: all ranks land in big tiles)
                    F.expr(
                        "_nt_rem + (_nt_r - _nt_rem * (_nt_base + 1))"
                        " div greatest(_nt_base, 1)"
                    )
                )
                + 1
            ).cast("int"),
        )
        .drop("_nt_r", "_nt_n", "_nt_base", "_nt_rem")
    )


def with_shard(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    shard_col: str = "shard",
) -> DataFrame:
    """Stable shard assignment ``pmod(key, n_shards)`` for sharded training
    output (`df.write.partitionBy(shard_col)` → n_shards directories).

    Keyed on a column, not on physical placement, so the assignment
    survives repartitioning and reruns.
    """
    return df.withColumn(
        shard_col, F.pmod(F.col(key_col).cast("long"), F.lit(n_shards)).cast("int")
    )
