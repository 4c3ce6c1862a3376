"""Structured-Streaming surface (SURVEY C09–C16, C19).

The one streaming leg, written once here: the reference's producer
(``producer.py``) ∥ scorer (``predict.py``) becomes

  replay   ``replay_dir`` (parquet, in ``_REPLAY_ORDER``) or
           ``write_json_replay`` (``encode_json`` envelopes as text files)
  source   ``file_stream`` / ``json_stream`` (``parse_json_stream``),
           throttled by ``maxFilesPerTrigger``
  score    any ``DataFrame -> DataFrame`` transform (``score_events``,
           ``ml.pipeline.score``, the stateful operators below)
  sink     ``run_to_parquet`` (checkpointed, exactly-once file sink),
           ``run_foreach_batch`` or ``run_to_memory``

The runner, ``Engine.stream`` and m02 assemble their legs from these
pieces. Every transform works identically on a batch frame and a
streaming frame — the batch run of the same function is the correctness
oracle for the stream run (tests/test_streaming.py).

Reference parity:
- ``parse_json_stream`` mirrors the scorer's Kafka decode
  (``/root/reference/tasks/scripts/predict.py:30-32``): binary→string cast,
  ``from_json`` with the declared schema, struct flatten.
- ``encode_json`` mirrors the producer's encode (``producer.py:23-24``).
- The replays replace the reference's per-row collect()+write loop
  (``producer.py:27-43``, one Spark job per row) with a rate-limited
  file-stream replay — the anti-scale pattern designed out.

Kafka itself is a deployment detail: the same downstream plan attaches to
``spark.readStream.format("kafka")`` in production; tests use file streams
with identical schemas (SURVEY §1.5).

Scale note: AQE is auto-disabled for stateful streaming, so
``spark.sql.shuffle.partitions`` must be sized explicitly *before the first
checkpoint* — the state-store partition count freezes there. The engine's
session factory pins it; a default-200 session pays 200-task micro-batches
forever.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.schemas import EVENTS

# ------------------------------------------------------------------ sources

# Replay order per fixture table. events: event time, so a replay arrives
# the way a real stream does (a non-temporal split would make every batch
# span the whole timeline, and the watermark would drop most of batches
# 2..n as late). documents: doc_id, so first arrival == lowest doc_id and
# the streaming keep-first dedup equals the batch window-min dedup (p01).
_REPLAY_ORDER = {"events": ["ts", "event_id"], "documents": ["doc_id"]}


def replay_dir(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_batches: int = 5,
    table: str = "events",
) -> str:
    """Write a fixture table as ``n_batches`` ordered part-files
    (``batch_i``) for stream replay, split by exact ntile over the
    table's ``_REPLAY_ORDER`` key (the distributed closed form, no global
    window).

    One write job per batch, run in order: the file source admits files
    by modification time, so these sequential writes are what keep the
    replay in key order.
    """
    from final_project_big_data_spark.operators.indexing import (
        index_pin_scope,
        with_ntile,
    )

    # the ntile pin is only needed during the writes below — release its
    # blocks on exit instead of waiting for the ContextCleaner tick
    with index_pin_scope():
        rows = with_ntile(
            load_table(spark, sf_dir, table),
            _REPLAY_ORDER[table],
            n_batches,
            tile_col="_b",
        )
        for i in range(n_batches):
            (
                rows.filter(F.col("_b") == i + 1)
                .drop("_b")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, f"batch_{i}"))
            )
    return out_dir


def file_stream(
    spark: SparkSession,
    replay_path: str,
    files_per_trigger: int = 1,
    schema: T.StructType = EVENTS,
) -> DataFrame:
    """Rate-limited streaming source over a ``replay_dir`` (C19).

    ``maxFilesPerTrigger`` is the throttle — replacing the reference's
    ``time.sleep(2)`` per-row loop with per-micro-batch admission control.
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(replay_path)
    )


def write_json_replay(df: DataFrame, out_dir: str, n_files: int) -> str:
    """Producer side of the JSON replay: ``encode_json`` envelopes (the
    reference topic's payload) as ``n_files`` text files."""
    encode_json(df).repartition(n_files).write.mode("overwrite").text(out_dir)
    return out_dir


def json_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Scorer side of the JSON replay: text files throttled by
    ``maxFilesPerTrigger``, then ``parse_json_stream`` with ``schema``."""
    lines = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", files_per_trigger)
        .text(path)
    )
    return parse_json_stream(lines, schema)


# --------------------------------------------------- stateless (C09, O21-O25)


def encode_json(df: DataFrame) -> DataFrame:
    """Row → JSON envelope (reference producer.py:23-24 pattern)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def parse_json_stream(df: DataFrame, schema: T.StructType = EVENTS) -> DataFrame:
    """JSON envelope → typed columns (reference predict.py:30-32 pattern)."""
    return (
        df.select(F.from_json(F.col("value").cast("string"), schema).alias("data"))
        .select("data.*")
    )


def score_events(df: DataFrame) -> DataFrame:
    """Stateless per-record transform (stand-in for model.transform, C09).

    Map-only: survives any partitioning, no state, no shuffle.
    """
    return df.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        (F.col("value") * 2 + F.length("event_type")).alias("score"),
        F.when(F.col("value") > 50, "high").otherwise("low").alias("band"),
    )


# ------------------------------------------------------- stateful (C10–C12)


def tumbling_counts(df: DataFrame, width: str = "6 hours",
                    watermark: str = "1 hour") -> DataFrame:
    """Tumbling event-time window aggregate (C10)."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sliding_counts(df: DataFrame, width: str = "6 hours", slide: str = "3 hours",
                   watermark: str = "1 hour") -> DataFrame:
    """Sliding window aggregate (C11) — each event lands in width/slide windows."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("win_start"), "cnt")
    )


def session_counts(df: DataFrame, gap: str = "30 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    """Session window per user (C12): sessions close after ``gap`` idle."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "user_id",
            "n_events",
        )
    )


def sessionize_batch(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch oracle for session windows: lag/cumsum gap sessionization.

    Classic window-function rewrite — new session when the per-user gap
    exceeds the threshold; session end = max ts + gap (matching
    ``session_window`` semantics).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    gap_us = F.lit(gap_minutes * 60 * 1_000_000)  # µs precision — no truncation
    flagged = df.withColumn(
        "new_sess",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) >= gap_us
        ).cast("int"),
    ).withColumn(
        "sess_id",
        F.sum(F.coalesce(F.col("new_sess"), F.lit(1))).over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("sess_start"),
            (F.max("ts") + F.expr(f"INTERVAL {gap_minutes} MINUTES")).alias(
                "sess_end"
            ),
            F.count("*").alias("n_events"),
        )
        .select("sess_start", "sess_end", "user_id", "n_events")
    )


# ------------------------------------------------ dedup / joins (C13–C15)


def dedup_stream(df: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark (C14).

    ``dropDuplicatesWithinWatermark``, NOT ``dropDuplicates``: with the
    event-time column absent from the key subset, ``dropDuplicates``
    keeps every key's state FOREVER — the watermark only drops late
    input, it never purges dedup state. Round 9's 100× volume probe
    measured the difference directly (tools/streaming_volume_probe.py,
    10M events): plain dropDuplicates retained 9.1M state rows / 1.8 GB
    — linear in events ever seen, the unbounded-state hazard at
    100 TB — while the WithinWatermark variant holds only the keys
    inside the watermark horizon. The documented trade: a duplicate
    arriving more than ``watermark`` after its first sighting is
    re-admitted — which is the operator's stated contract ("within the
    watermark") and the only state-bounded exact-dedup there is.
    """
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def purchase_click_join(df: DataFrame, other: DataFrame,
                        within: str = "1 hour") -> DataFrame:
    """Stream-stream interval join (C15): purchases joined to the same
    user's clicks within the preceding ``within``.

    Both sides watermarked; the time-bound condition lets the state store
    evict rows — unbounded state would be the scale hazard.
    """
    clicks = (
        other.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        df.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}")),
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "click_ts")


# ------------------------------------------------------------------- sinks


def enrich_with_dim(df: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich each event with a static dimension row.

    The static side is broadcast to every micro-batch (no state store, no
    watermark needed — static joins are stateless). This is the streaming
    analogue of the fact⋈dim broadcast join, and the standard way to attach
    reference data (user profiles, product catalogs) to a 100 TB/day
    stream without shuffling it.
    """
    return df.join(F.broadcast(dim), "user_id", "left")


def user_running_totals(df: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value sum) maintained across micro-batches.

    This is the escape hatch for stateful logic the built-in windowed aggs
    can't express (arbitrary per-key accumulators, custom eviction). State
    is one fixed-width row per user in the state store; each micro-batch
    updates only the keys it saw and emits their new totals (update mode).
    Scale: state shuffles on user_id — same partitioning discipline as any
    keyed agg; memory is O(distinct users), not O(events).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, sum_value double"
    state_schema = "n bigint, s double"

    def update(key, pdf_iter, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        df.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming frame to completion into a memory sink (tests)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_parquet(stream_df: DataFrame, sink: str, checkpoint: str):
    """Start a checkpointed parquet file sink (the reference's
    ``predict.py:47-53`` writeStream): append mode, availableNow drain,
    exactly-once through the sink's commit log — a restart from the same
    checkpoint writes no row twice. Returns the started query."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_foreach_batch(stream_df: DataFrame, sink_path: str,
                      checkpoint: str) -> None:
    """foreachBatch parquet sink with checkpointed exactly-once-per-batch
    (C16): re-running from the same checkpoint must not duplicate output.

    Mirrors the reference's checkpointed writeStream
    (``predict.py:47-53``) with an idempotent batch sink.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # per-epoch subdir + overwrite → idempotent on epoch replay
        batch_df.write.mode("overwrite").parquet(
            os.path.join(sink_path, f"epoch={epoch_id}")
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ----------------------------------------------- streaming corpus curation


def curate_docs(df: DataFrame) -> DataFrame:
    """Streaming corpus curation: stateless scoring (quality + lang-ID +
    fingerprint, `queries/curation.score_docs`) then stateful streaming
    dedup on the normalized fingerprint (keep first arrival).

    State note (sharpened after round 9's volume probe caught the
    unbounded-state class in ``dedup_stream``): corpus dedup is
    semantically GLOBAL — a duplicate must never be re-admitted — so
    bounded watermark state is NOT an option here and this operator's
    state grows with distinct fingerprints by design. The 100 TB
    posture is therefore different from dedup_stream's: keep the
    in-state window short and move history OUT of the state store — a
    ``foreachBatch`` anti-join against the persisted fingerprint table
    (the d08 Bloom/exact posture), which scales as a parquet-side
    equi-join instead of executor memory. Batch equivalence: with
    doc_id-ordered replay this equals p01_corpus_curation minus the
    final sort.
    """
    from final_project_big_data_spark.queries.curation import score_docs

    return (
        score_docs(df)
        .dropDuplicates(["fp_norm"])
        .select("doc_id", "pred_lang", "quality", "n_tokens")
    )


def with_stream_metrics(df: DataFrame, name: str = "stream_metrics") -> DataFrame:
    """Attach per-micro-batch counters to a streaming frame
    (``plans.metrics`` streaming hook): rows and score extrema ride each
    batch's execution and surface on
    ``StreamingQueryProgress.observedMetrics[name]`` — monitoring with no
    second pass over the stream and no foreachBatch side-car. The scale
    rationale matches the batch case: at production rates a count-based
    monitor would double the stream's compute.
    """
    return df.observe(
        name,
        F.count(F.lit(1)).alias("batch_rows"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
