"""Reference-parity ML tests (SURVEY §5.2.4, C03/C04/C18)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from final_project_big_data_spark.ml import pipeline as M
from final_project_big_data_spark.streaming import pipeline as SP
from final_project_big_data_spark.schemas import CREDIT_CARD


@pytest.fixture(scope="module")
def creditcard(spark):
    return M.synth_creditcard(spark, n_rows=4000, seed=42).cache()


@pytest.fixture(scope="module")
def splits(creditcard):
    sampled = M.stratified_sample(creditcard, n_target=2000, seed=42)
    return M.stratified_split(sampled, (0.7, 0.3), seed=42)


@pytest.fixture(scope="module")
def model(splits):
    train, _ = splits
    # reduced forest for test runtime; full reference config (100 trees,
    # depth 10) is the default in M.build_pipeline
    return M.train(train, num_trees=25, max_depth=6, seed=42)


def test_c03_stratified_sample_bounds(creditcard):
    sampled = M.stratified_sample(creditcard, n_target=2000, seed=42)
    n = sampled.count()
    assert 1700 <= n <= 2300  # Bernoulli bounds around the target
    base = creditcard.agg(F.avg("Class")).collect()[0][0]
    got = sampled.agg(F.avg("Class")).collect()[0][0]
    assert abs(got - base) < 0.02  # class ratio preserved
    # seed determinism
    again = M.stratified_sample(creditcard, n_target=2000, seed=42)
    assert sampled.select("Time").collect() == again.select("Time").collect()


def test_c04_split_disjoint_complete(creditcard):
    sampled = M.stratified_sample(creditcard, n_target=2000, seed=42)
    train, test = M.stratified_split(sampled, (0.7, 0.3), seed=42)
    n_train, n_test, n_all = train.count(), test.count(), sampled.count()
    assert n_train + n_test == n_all
    assert train.select("Time").intersect(test.select("Time")).count() == 0
    assert 0.6 <= n_train / n_all <= 0.8
    # both halves contain both classes
    assert train.filter("Class = 1").count() > 0
    assert test.filter("Class = 1").count() > 0


def test_c18_model_beats_majority_baseline(model, splits):
    _, test = splits
    scored = M.score(model, test)
    acc = M.accuracy(scored)
    majority = test.agg(
        F.greatest(F.avg("Class"), 1 - F.avg("Class"))
    ).collect()[0][0]
    assert acc >= majority  # learnable shifted means → should exceed


def test_c18_seed_determinism(splits):
    train, test = splits
    a = M.score(M.train(train, num_trees=10, max_depth=4, seed=7), test)
    b = M.score(M.train(train, num_trees=10, max_depth=4, seed=7), test)
    assert (
        a.select("Time", "prediction").collect()
        == b.select("Time", "prediction").collect()
    )


def test_c18_save_load_roundtrip(model, splits, tmp_path):
    _, test = splits
    path = str(tmp_path / "rf_model")
    M.save_model(model, path)
    loaded = M.load_model(path)
    want = M.score(model, test).select("Time", "prediction").collect()
    got = M.score(loaded, test).select("Time", "prediction").collect()
    assert got == want


@pytest.fixture(scope="module")
def model_path(model, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rf") / "rf_model")
    M.save_model(model, path)
    return path


def test_forest_wraps_trees_only_when_read(model, model_path):
    """Neither M.train nor M.load_model wraps the forest's trees: PySpark's
    stock forest wrapper caches one py4j wrapper per tree the moment it is
    built, and nothing in the scoring path reads them."""
    forests = [model.stages[-1], M.load_model(model_path).stages[-1]]
    for forest in forests:
        assert "trees" not in vars(forest)
    for forest in forests:
        assert len(forest.trees) == forest.getNumTrees == 25


def test_load_model_round_trip_budget(model_path, monkeypatch):
    """Loading and wrapping the 25-tree pipeline makes under 1,000 py4j
    round trips; wrapping every tree costs about 64 each. Only this
    thread's commands count: py4j's finalizer thread sends the deletes of
    earlier garbage on its own schedule."""
    import threading

    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    caller = threading.get_ident()
    calls = []

    def counting(self, command):
        if threading.get_ident() == caller:
            calls.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    M.load_model(model_path)
    monkeypatch.undo()
    assert len(calls) < 1000


def test_load_model_scores_like_pipeline_model_load(model_path, splits):
    """M.load_model's own stage wrapping scores bit-identically to
    PySpark's PipelineModel.load of the same files."""
    from pyspark.ml import PipelineModel

    _, test = splits
    cols = ["Time", "prediction", "rawPrediction", "probability"]

    def scored(model):
        return M.score(model, test).select(*cols).orderBy("Time").collect()

    assert scored(M.load_model(model_path)) == scored(PipelineModel.load(model_path))


def test_reference_parity_streaming_score(spark, model, splits, tmp_path):
    """predict.py end-to-end shape: JSON envelope stream → parse with the
    declared schema → model.transform → output projection (O20–O26)."""
    _, test = splits
    replay = str(tmp_path / "cc_replay")
    # producer side (producer.py:23-24): rows → JSON values, replayed as files
    SP.write_json_replay(test, replay, n_files=2)
    parsed = SP.json_stream(spark, replay, CREDIT_CARD, files_per_trigger=1)
    out = M.prediction_envelope(M.score(model, parsed))
    SP.run_to_memory(out, "cc_scored")
    result = spark.table("cc_scored")
    assert set(result.columns) == {"Time", "Amount", "actual_label", "predicted_label"}
    assert result.count() == test.count()
    # stream score == batch score on the same rows
    batch = M.prediction_envelope(M.score(model, test))
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))


def _sink_files_per_batch(sink: str) -> dict[int, int]:
    """Batch id -> part files committed, from the parquet sink's log."""
    import json
    import os

    log = os.path.join(sink, "_spark_metadata")
    out = {}
    for name in os.listdir(log):
        if name.isdigit():
            with open(os.path.join(log, name)) as fh:
                out[int(name)] = sum(
                    json.loads(line)["action"] == "add"
                    for line in fh if line.startswith("{")
                )
    return out


def test_stream_score_restart_is_exactly_once(spark, model, creditcard, tmp_path):
    """predict.py's score leg into a checkpointed parquet sink: micro-
    batches of several JSON files score on several tasks, and a restart
    from the same checkpoint after more files arrive neither drops nor
    repeats a row."""
    in_dir, sink, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    rows = creditcard.limit(1200).toPandas()
    (tmp_path / "in").mkdir()

    def drop(first: int, last: int) -> None:
        for i in range(first, last):
            part = rows.iloc[i * 100:(i + 1) * 100]
            tmp = tmp_path / f".part-{i:02d}.json"
            tmp.write_text(part.to_json(orient="records", lines=True))
            tmp.rename(tmp_path / "in" / f"part-{i:02d}.json")

    def drain() -> None:
        stream = SP.json_stream(spark, in_dir, CREDIT_CARD, files_per_trigger=4)
        scored = M.prediction_envelope(M.score(model, stream))
        SP.run_to_parquet(scored, sink, ckpt).awaitTermination()

    drop(0, 8)
    drain()
    drop(8, 12)
    drain()

    out = spark.read.parquet(sink)
    assert out.count() == out.select("Time").distinct().count() == 1200
    batch = M.prediction_envelope(
        M.score(model, spark.read.schema(CREDIT_CARD).json(in_dir)))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))
    per_batch = _sink_files_per_batch(sink)
    assert len(per_batch) == 3
    assert max(per_batch.values()) > 1


# ------------------------------------------------- C22: MLlib text features


def test_m02_drops_its_memory_sink(spark, sf_dir):
    """m02 drops its memory-sink view once the scored rows are checkpointed,
    so building it twice on one session leaves no sink table behind."""
    from final_project_big_data_spark.queries import all_specs

    build = all_specs()["m02_streaming_score_parity"].builder
    for _ in range(2):
        assert all(build(spark, sf_dir).first())
    sinks = [t.name for t in spark.catalog.listTables() if t.name.startswith("m02_sink_")]
    assert not sinks


def test_tfidf_pipeline_deterministic_and_sane(spark, sf_dir):
    from pyspark.ml.functions import vector_to_array

    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.ml import text_features as TF

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m1 = TF.fit_tfidf(docs)
    m2 = TF.fit_tfidf(docs)
    out1 = (
        m1.transform(docs)
        .select(
            "doc_id",
            F.size("tokens").alias("n_tok"),
            F.size("filtered").alias("n_filt"),
            F.round(
                F.aggregate(
                    vector_to_array("tfidf"), F.lit(0.0), lambda a, x: a + x * x
                ),
                4,
            ).alias("sq_norm"),
        )
        .orderBy("doc_id")
        .collect()
    )
    out2 = (
        m2.transform(docs)
        .select(
            "doc_id",
            F.round(
                F.aggregate(
                    vector_to_array("tfidf"), F.lit(0.0), lambda a, x: a + x * x
                ),
                4,
            ).alias("sq_norm"),
        )
        .orderBy("doc_id")
        .collect()
    )
    # two fits on the same corpus → identical vectors (IDF is deterministic)
    assert [(r.doc_id, r.sq_norm) for r in out1] == [tuple(r) for r in out2]
    for r in out1:
        assert r.n_filt <= r.n_tok  # stopword filter only removes
        assert r.sq_norm > 0


def test_count_vectorizer_vocab_matches_corpus_frequencies(spark, sf_dir):
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.ml import text_features as TF

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = TF.fit_counts(docs, vocab_size=64, min_df=2)
    vocab = set(model.stages[-1].vocabulary)
    assert 0 < len(vocab) <= 64

    # every vocab word must actually appear in ≥2 docs after stopword
    # filtering, and the top-1 corpus word must be in the vocabulary
    freqs = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(~F.col("w").isin(TF.STOPWORDS))
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    doc_freq = {r.w: r.df for r in freqs.collect()}
    assert all(doc_freq.get(w, 0) >= 2 for w in vocab)
    top_word = max(doc_freq.items(), key=lambda kv: kv[1])[0]
    assert top_word in vocab


def test_scoring_survives_observation_poisoned_session(spark):
    """Regression (order-dependent in the suite): once any Observation has
    been used on a session, Spark 4's classic SparkSession holds a
    materialized non-serializable ObservationManager, and a model whose
    trainingSummary pins the session fails closure serialization at
    scoring time. M.train strips the summary (copy()), so scoring must
    work on a deliberately poisoned session."""
    from pyspark.sql import Observation

    obs = Observation("poison_probe")
    spark.range(10).observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).format("noop").save()
    assert obs.get["n"] == 10  # manager lazy val is now materialized

    cc = M.synth_creditcard(spark, n_rows=400, seed=7)
    tr, te = M.stratified_split(M.stratified_sample(cc, 300, seed=7), seed=7)
    model = M.train(tr, num_trees=4, max_depth=3, seed=7)
    assert not model.stages[-1].hasSummary
    assert M.score(model, te).count() > 0
