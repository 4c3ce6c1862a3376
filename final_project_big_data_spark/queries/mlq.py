"""Driver-visible face of the ML parity pipeline.

MLlib training itself is not SQL-expressible, so the driver-checked output
is the pipeline's closed-form INVARIANT FACETS (one boolean row an oracle
can assert as literals) rather than raw predictions — every facet failing
would flip a column to false and hash-mismatch. tests/test_ml.py carries
the deeper invariants (seed determinism, save/load equivalence,
baseline-beating accuracy, streaming-score parity) plus the raw
``{Time, Amount, actual_label, predicted_label}`` envelope parity
(``predict.py:37-44``).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from final_project_big_data_spark.ml import pipeline as M
from final_project_big_data_spark.queries import query
from final_project_big_data_spark.schemas import CREDIT_CARD
from final_project_big_data_spark.streaming import pipeline as P


@query(
    "m01_rf_prepare_train_score",
    oracle="""
    SELECT TRUE AS scored_nonempty, TRUE AS split_complete,
           TRUE AS split_disjoint, TRUE AS pred_domain_ok,
           TRUE AS label_domain_ok, TRUE AS beats_chance
    """,
    category="ml",
)
def m01(spark: SparkSession, sf: str) -> DataFrame:
    """Full reference flow prepare→train→score on the synthetic creditcard
    fixture (sf-independent), reduced forest for check runtime. Mirrors
    ``prepare_data.py`` → ``train_model.py`` → ``predict.py`` (batch form).

    Output = closed-form facets of that run (VERDICT r2 ask #9):
    scored_nonempty (the envelope has rows), split_complete
    (|train|+|test| == |sampled|), split_disjoint (no ``Time`` key in both
    halves — Time is unique by construction, FIXTURES.md §11),
    pred_domain_ok / label_domain_ok (predictions and labels ⊆ {0,1}),
    beats_chance (accuracy ≥ 0.9 on a 98%-majority-class task the forest
    separates by design). Exact counts are deliberately NOT emitted:
    Bernoulli sampling/splits are seed-deterministic only per partition
    layout, which the driver's foreign session does not pin.
    """
    cc = M.synth_creditcard(spark, n_rows=2000, seed=42)
    sampled = M.stratified_sample(cc, n_target=1500, seed=42)
    train_df, test_df = M.stratified_split(sampled, (0.7, 0.3), seed=42)
    model = M.train(train_df, num_trees=10, max_depth=5, seed=42)
    env = M.prediction_envelope(M.score(model, test_df))

    n_sampled = sampled.count()
    n_train, n_test = train_df.count(), test_df.count()
    n_overlap = train_df.select("Time").join(
        test_df.select("Time"), "Time", "inner"
    ).count()
    facets = env.agg(
        (F.count("*") > 0).alias("scored_nonempty"),
        F.lit(n_train + n_test == n_sampled).alias("split_complete"),
        F.lit(n_overlap == 0).alias("split_disjoint"),
        # coalesce(..., False): isin(NULL) yields NULL and F.every skips
        # NULLs, so a NULL prediction/label must explicitly FAIL the facet
        F.every(
            F.coalesce(F.col("predicted_label").isin(0.0, 1.0), F.lit(False))
        ).alias("pred_domain_ok"),
        F.every(
            F.coalesce(F.col("actual_label").isin(0, 1), F.lit(False))
        ).alias("label_domain_ok"),
        (
            F.avg(
                (F.col("predicted_label") == F.col("actual_label")).cast("double")
            )
            >= 0.9
        ).alias("beats_chance"),
    )
    return facets


@query(
    "m02_streaming_score_parity",
    oracle="""
    SELECT TRUE AS envelope_cols_ok, TRUE AS stream_nonempty,
           TRUE AS stream_equals_batch, TRUE AS multi_batch_replay
    """,
    category="ml",
)
def m02(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming half of the reference flow as a driver-checkable row
    (VERDICT r3 ask #5): score a throttled file-stream replay with a
    SAVED+RELOADED PipelineModel and assert the reference's exact output
    envelope ``{Time, Amount, actual_label, predicted_label}``
    (``predict.py:18,30-44``: load → JSON parse → transform → envelope
    projection) through the shared stream leg
    (``streaming.pipeline.write_json_replay``/``json_stream``), replacing
    Kafka with the file source (``streaming/kafka.py`` carries the Kafka
    wiring).

    Facets: envelope_cols_ok (exact column set, reference byte-parity
    order), stream_nonempty, stream_equals_batch (the micro-batched
    scored rows are SET-IDENTICAL to batch-scoring the same frame —
    model.transform is stateless, so chunking must not change results),
    multi_batch_replay (the throttle really split the replay into >1
    micro-batch — availableNow + maxFilesPerTrigger=1).

    Scale: the stream side is map-only (parse + transform, no state, no
    shuffle); parity checks are two exceptAll anti-joins on the scored
    envelope — one shuffle each at driver-check scale only.
    """
    cc = M.synth_creditcard(spark, n_rows=1200, seed=42)
    train_df, test_df = M.stratified_split(cc, (0.7, 0.3), seed=42)
    model = M.train(train_df, num_trees=10, max_depth=5, seed=42)

    work = tempfile.mkdtemp(prefix="m02_")
    try:
        model_path = os.path.join(work, "model")
        M.save_model(model, model_path)
        loaded = M.load_model(model_path)

        # JSON replay files: one file per micro-batch (reference topic
        # payload shape, producer.py:23-24), throttled 1 file/trigger.
        replay = P.write_json_replay(test_df, os.path.join(work, "replay"), 3)
        stream = P.json_stream(spark, replay, CREDIT_CARD, files_per_trigger=1)
        scored_stream = M.prediction_envelope(M.score(loaded, stream))

        sink = f"m02_sink_{abs(hash(work)) % 10_000_000}"
        q = (
            scored_stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option(
                "checkpointLocation", os.path.join(work, "ck")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        n_batches = len(q.recentProgress)

        streamed = spark.table(sink).localCheckpoint(eager=True)
        spark.catalog.dropTempView(sink)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    batch = M.prediction_envelope(M.score(loaded, test_df))
    want_cols = ["Time", "Amount", "actual_label", "predicted_label"]
    only_stream = streamed.exceptAll(batch).count()
    only_batch = batch.exceptAll(streamed).count()
    return spark.range(1).select(
        F.lit(streamed.columns == want_cols).alias("envelope_cols_ok"),
        F.lit(streamed.count() > 0).alias("stream_nonempty"),
        F.lit(only_stream == 0 and only_batch == 0).alias(
            "stream_equals_batch"
        ),
        F.lit(n_batches > 1).alias("multi_batch_replay"),
    )
