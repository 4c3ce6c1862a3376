"""Pipeline runner — the reference's control-plane semantics without the
control plane (SURVEY.md §7.2.7).

The reference orchestrates ``prepare → train → (predict ∥ produce)`` with
Airflow DAGs dispatching Celery tasks to capability-routed workers
(``/root/reference/airflow/dags/system_control_dag.py:199-211``). That layer
is deployment machinery, not engine capability: its entire data-plane
content is "run 4 scripts in order". Here the same DAG is a plain Python
function over one SparkSession:

  prepare : synth/ingest → stratified sample → stratified 70/30 split →
            parquet (reference prepare_data.py, no pandas detour)
  train   : assembler+RF fit → save → load (train_model.py)
  score   : batch score of the held-out split (predict.py's transform)
  replay  : file-stream replay of the test split through the same model —
            the streaming leg (producer.py ∥ predict.py) with the per-row
            Kafka loop replaced by micro-batches (SURVEY C19)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from final_project_big_data_spark.io import read_parquet
from final_project_big_data_spark.ml import pipeline as ml
from final_project_big_data_spark.schemas import CREDIT_CARD
from final_project_big_data_spark.streaming import pipeline as P


def run_reference_pipeline(
    spark: SparkSession,
    workdir: str,
    n_rows: int = 4000,
    seed: int = 42,
    streaming: bool = True,
) -> dict:
    """Run the full reference-parity DAG; returns a metrics/paths dict."""
    train_path = os.path.join(workdir, "train.parquet")
    test_path = os.path.join(workdir, "test.parquet")
    model_path = os.path.join(workdir, "model")
    stream_in = os.path.join(workdir, "stream_in")
    stream_out = os.path.join(workdir, "stream_out")
    checkpoint = os.path.join(workdir, "checkpoint")

    # prepare (reference prepare_data.py — distributed, no pandas)
    raw = ml.synth_creditcard(spark, n_rows=n_rows, seed=seed)
    sampled = ml.stratified_sample(raw, n_target=min(n_rows, 2000), seed=seed)
    train_df, test_df = ml.stratified_split(sampled, seed=seed)
    train_df.write.mode("overwrite").parquet(train_path)
    test_df.write.mode("overwrite").parquet(test_path)

    # train (train_model.py)
    model = ml.train(read_parquet(spark, train_path))
    ml.save_model(model, model_path)
    model = ml.load_model(model_path)

    # score, batch leg (predict.py's transform on the held-out split)
    scored = ml.score(model, read_parquet(spark, test_path))
    acc = ml.accuracy(scored)
    envelope_cols = ml.prediction_envelope(scored).columns

    out = {
        "train_path": train_path,
        "test_path": test_path,
        "model_path": model_path,
        "n_train": train_df.count(),
        "n_test": test_df.count(),
        "accuracy": acc,
        "envelope": envelope_cols,
    }

    if streaming:
        # replay leg (producer.py ∥ predict.py): test split as JSON
        # envelopes → throttled stream parsed with the declared schema →
        # score → checkpointed parquet sink. availableNow drains in
        # micro-batches of 4 files.
        P.write_json_replay(read_parquet(spark, test_path), stream_in, n_files=8)
        stream = P.json_stream(spark, stream_in, CREDIT_CARD, files_per_trigger=4)
        scored_stream = ml.prediction_envelope(ml.score(model, stream))
        P.run_to_parquet(scored_stream, stream_out, checkpoint).awaitTermination()
        out["n_streamed"] = read_parquet(spark, stream_out).count()
        out["stream_out"] = stream_out
    return out
