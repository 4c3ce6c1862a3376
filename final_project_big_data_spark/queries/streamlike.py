"""Batch-mode window/sessionization queries (driver-checkable face of the
streaming surface, SURVEY C10–C12).

The exact same transforms run as Structured-Streaming queries in
``streaming/pipeline.py``; tests/test_streaming.py proves stream == batch.
Here they run in batch over ``events`` with DuckDB oracles (epoch-grid
arithmetic stands in for Spark's ``window()``; lag/cumsum sessionization for
``session_window``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.operators.text import md5_int, md5_int_sql
from final_project_big_data_spark.queries import query
from final_project_big_data_spark.streaming.pipeline import (
    sessionize_batch,
    sliding_counts,
    tumbling_counts,
)

_6H = 6 * 3600
_3H = 3 * 3600


@query(
    "w01_tumbling_window",
    oracle=f"""
    SELECT make_timestamp(((floor(epoch(ts) / {_6H}) * {_6H}) * 1000000)::BIGINT)
             AS win_start,
           event_type,
           count(*) AS cnt,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY win_start, event_type
    """,
    category="window-stream",
)
def w01(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return tumbling_counts(e).orderBy("win_start", "event_type")


@query(
    "w02_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - lag(epoch(ts)) OVER w >= 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM o
    )
    SELECT min(ts) AS sess_start,
           max(ts) + INTERVAL 30 MINUTE AS sess_end,
           user_id,
           count(*) AS n_events
    FROM s GROUP BY user_id, sess_id
    ORDER BY user_id, sess_start
    """,
    category="window-stream",
)
def w02(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (lag + cumsum rewrite of session_window)."""
    e = load_table(spark, sf, "events")
    return sessionize_batch(e, gap_minutes=30).orderBy("user_id", "sess_start")


@query(
    "w03_sliding_window",
    oracle=f"""
    WITH x AS (
      SELECT unnest([floor(epoch(ts) / {_3H}) * {_3H},
                     floor(epoch(ts) / {_3H}) * {_3H} - {_3H}]) AS s,
             epoch(ts) AS e
      FROM events
    )
    SELECT make_timestamp((s * 1000000)::BIGINT) AS win_start, count(*) AS cnt
    FROM x WHERE e >= s AND e < s + {_6H}
    GROUP BY 1 ORDER BY win_start
    """,
    category="window-stream",
)
def w03(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return sliding_counts(e).orderBy("win_start")


@query(
    "w04_time_rollup",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           date_trunc('hour', ts) AS hr,
           count(*) AS cnt,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type, day, hr), (event_type, day),
                            (event_type))
    ORDER BY event_type, day NULLS FIRST, hr NULLS FIRST
    """,
    category="window-stream",
)
def w04(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: one pass over the raw
    events produces hour, day, and total aggregates per event type
    (``groupingSets`` — the continuous-aggregate pattern for time-series
    marts; each finer level is map-side combinable before the one shuffle).

    At 100 TB: the grouping-set expansion multiplies rows ×3 BEFORE the
    partial aggregate absorbs them, so shuffled bytes stay O(distinct
    (type, hr) keys), not O(events). Persist the hour level and derive
    day/total from it incrementally via foreachBatch for the streaming
    variant (streaming/pipeline.py).
    """
    e = load_table(spark, sf, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "value",
    )
    return (
        e.groupingSets(
            [["event_type", "day", "hr"], ["event_type", "day"], ["event_type"]],
            "event_type",
            "day",
            "hr",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type", F.asc_nulls_first("day"), F.asc_nulls_first("hr"))
    )


@query(
    "w05_windowed_topk",
    oracle=f"""
    WITH wc AS (
      SELECT make_timestamp(((floor(epoch(ts) / {_6H}) * {_6H})
                             * 1000000)::BIGINT) AS win_start,
             event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT win_start, event_type, CAST(cnt AS BIGINT) AS cnt,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY win_start
                 ORDER BY cnt DESC, event_type) AS rnk FROM wc)
    WHERE rnk <= 3 ORDER BY win_start, rnk
    """,
    category="window-stream",
)
def w05(spark: SparkSession, sf: str) -> DataFrame:
    """Per-window top-k ("trending event types per 6 h bucket"): tumbling
    event-time window aggregate composed with a rank-within-window — the
    dashboard staple the w-family lacked (w01 aggregates, q22 ranks; this
    is the composition). Deterministic tiebreak on event_type.

    Plan: the window aggregate shuffles once on (bucket, type) with
    map-side partials; the rank re-shuffles only the aggregated rows
    (|buckets| × |types|, tiny at any corpus scale) and
    WindowGroupLimit keeps per-bucket state at k rows. In Structured
    Streaming the same shape runs as tumbling_counts →
    foreachBatch(rank) — ranking needs the closed window, so it rides
    the batch sink boundary (streaming/pipeline.py).
    """
    e = load_table(spark, sf, "events")
    wc = (
        e.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "cnt"
        )
    )
    w = W.partitionBy("win_start").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        wc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("win_start", "rnk")
    )


# ------------------------------------------------- watermark late accounting

_ARR_JITTER = 20  # bounded disorder: arrival position = event_id + hash % 20
_LATE_MIN = 30  # watermark delay, minutes
_WM_BUCKET = 1024  # arrival-bucket width for the distributed prefix-max


@query(
    "w06_late_data_accounting",
    oracle=f"""
    WITH arr AS (
      SELECT event_type, ts, event_id,
             event_id + {md5_int_sql("'arr:' || CAST(event_id AS VARCHAR)")}
               % {_ARR_JITTER} AS a
      FROM events
    ),
    o AS (
      SELECT event_type, ts,
             max(ts) OVER (ORDER BY a, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS pm
      FROM arr
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE ts < pm - INTERVAL {_LATE_MIN} MINUTE)
                AS BIGINT) AS n_late,
           ROUND(count(*) FILTER (WHERE ts < pm - INTERVAL {_LATE_MIN} MINUTE)
                 / CAST(count(*) AS DOUBLE), 4) AS late_frac
    FROM o GROUP BY event_type ORDER BY event_type
    """,
    category="window-stream",
)
def w06(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark late-data accounting, as an oracle-paired BATCH twin of
    the streaming C13 semantics (which SURVEY §5.2.3 could only verify
    rows-only): an event is late iff its event time trails the maximum
    event time of everything that ARRIVED before it by more than the
    watermark delay ({late} min). Arrival order is a deterministic
    bounded-disorder stream (position = event_id + md5-jitter < {jit}),
    i.e. exactly the disorder model watermarks assume.

    The Spark plan computes the global running max WITHOUT a
    single-reducer window (the operators/quantiles.py discipline):
    arrival buckets of width {bucket} (jitter < bucket ⇒ each bucket
    holds ≤ bucket+{jit} rows) get an in-bucket exclusive prefix max in
    bounded partitions; the cross-bucket exclusive max runs on the
    buckets relation (n/{bucket} rows) and broadcasts back. The oracle
    states the same thing as ONE naive global window — two independent
    formulations of the prefix max must agree on every row's verdict.
    """
    e = load_table(spark, sf, "events").select(
        "event_id", "event_type", "ts"
    )
    jit = (
        md5_int(F.concat(F.lit("arr:"), F.col("event_id").cast("string")))
        % _ARR_JITTER
    )
    # Round-12 note (guide §2.4): an explicit .repartition("bkt") here
    # to share ONE exchange between the in-bucket window and the
    # bucket-max aggregate was tried and REJECTED — per-branch column
    # pruning makes the two subtrees non-identical, so ReuseExchange
    # never fires, and the stated shuffle replaces the aggregate
    # branch's map-side partial agg (a tiny per-bucket exchange) with a
    # full-width (bkt, ts) exchange. The shipping two-branch shape pays
    # a second SCAN (pruned to event_id+ts) instead of a second full
    # exchange — the cheaper side of that trade at any volume.
    arr = e.withColumn("a", F.col("event_id") + jit).withColumn(
        "bkt", (F.col("a") / _WM_BUCKET).cast("long")
    )
    win_in = (
        W.partitionBy("bkt")
        .orderBy("a", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bmax = arr.groupBy("bkt").agg(F.max("ts").alias("bts"))
    win_b = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    prev = bmax.select("bkt", F.max("bts").over(win_b).alias("prev_max"))
    scored = (
        arr.withColumn("in_max", F.max("ts").over(win_in))
        .join(F.broadcast(prev), "bkt")
        .withColumn("pm", F.greatest("in_max", "prev_max"))
    )
    late = F.col("ts") < F.col("pm") - F.expr(
        f"INTERVAL {_LATE_MIN} MINUTES"
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
            F.round(
                F.sum(F.when(late, 1).otherwise(0))
                / F.count("*").cast("double"),
                4,
            ).alias("late_frac"),
        )
        .orderBy("event_type")
    )


w06.__doc__ = w06.__doc__.format(
    late=_LATE_MIN, jit=_ARR_JITTER, bucket=_WM_BUCKET
)
