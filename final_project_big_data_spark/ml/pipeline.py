"""Reference-parity ML pipeline, Spark-native end to end (SURVEY C03/C04/C18).

The reference stages data through driver-side pandas + sklearn
(``/root/reference/tasks/scripts/prepare_data.py:16-34``), trains an MLlib
Random Forest (``train_model.py:19-33``), and scores a JSON stream
(``predict.py:18-44``). This module reproduces that capability surface with
no driver-side detour:

- fixture synthesis and sampling stay distributed (``spark.range`` + column
  expressions; ``sampleBy``/``randomSplit`` instead of sklearn splits —
  proportion-bounded + seed-deterministic, NOT row-identical to sklearn,
  per SURVEY §7.4),
- the same ``VectorAssembler → RandomForestClassifier(numTrees=100,
  maxDepth=10, seed=42) → Pipeline`` save/load/score chain,
- the same streaming output envelope
  ``{Time, Amount, actual_label, predicted_label}`` (``predict.py:37-44``).
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    RandomForestClassificationModel,
    RandomForestClassifier,
)
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.util import _jvm
from pyspark.ml.wrapper import JavaParams
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from final_project_big_data_spark.schemas import CREDIT_CARD

FEATURE_COLS = [f.name for f in CREDIT_CARD.fields if f.name != "Class"]
LABEL_COL = "Class"


def synth_creditcard(
    spark: SparkSession, n_rows: int = 4000, seed: int = 42, fraud_rate: float = 0.02
) -> DataFrame:
    """Deterministic synthetic creditcard table (FIXTURES.md §11).

    Distributed generation: ``spark.range`` + seeded ``randn``/``rand``
    columns; class-1 rows get shifted means on V1–V4 so the label is
    learnable. Mirrors ``CREDIT_CARD_SCHEMA``
    (``/root/reference/tasks/scripts/schema.py:3-35``).
    """
    df = spark.range(n_rows).withColumn(
        LABEL_COL, (F.rand(seed) < fraud_rate).cast("int")
    )
    shift = F.when(F.col(LABEL_COL) == 1, 2.5).otherwise(0.0)
    cols = [(F.col("id") * 2.0).alias("Time")]
    for i in range(1, 29):
        base = F.randn(seed + i)
        cols.append((base + (shift if i <= 4 else F.lit(0.0))).alias(f"V{i}"))
    cols.append((F.exp(F.randn(seed + 100) * 1.5 + 3.0)).alias("Amount"))
    cols.append(F.col(LABEL_COL))
    return df.select(*cols)


def stratified_sample(
    df: DataFrame, n_target: int, seed: int = 42, label: str = LABEL_COL
) -> DataFrame:
    """Class-stratified sample of ≈``n_target`` rows (reference O3).

    ``sampleBy`` is Bernoulli per stratum: counts are proportion-bounded,
    not exact like sklearn's ``train_test_split(train_size=n)`` — the
    declared engine semantics (SURVEY §7.4).
    """
    counts = {r[label]: r["count"] for r in df.groupBy(label).count().collect()}
    total = sum(counts.values())
    frac = min(1.0, n_target / total)
    fractions = {k: frac for k in counts}
    return df.sampleBy(label, fractions=fractions, seed=seed)


def stratified_split(
    df: DataFrame, weights: tuple[float, float] = (0.7, 0.3), seed: int = 42,
    label: str = LABEL_COL,
) -> tuple[DataFrame, DataFrame]:
    """Per-class 70/30 split (reference O4): randomSplit within each stratum,
    unioned back — keeps the minority-class ratio stable in both halves."""
    classes = [r[0] for r in df.select(label).distinct().collect()]
    trains, tests = [], []
    for c in sorted(classes):
        tr, te = df.filter(F.col(label) == c).randomSplit(list(weights), seed=seed)
        trains.append(tr)
        tests.append(te)
    train = trains[0]
    for t in trains[1:]:
        train = train.unionAll(t)
    test = tests[0]
    for t in tests[1:]:
        test = test.unionAll(t)
    return train, test


class _ForestModel(RandomForestClassificationModel):
    """A forest wrapper that wraps its trees only when ``trees`` is read.

    PySpark declares ``RandomForestClassificationModel.trees`` a
    ``cached_property``, and ``Params.params`` calls ``getattr`` on every
    attribute that is not a ``property``. So each stock wrapper of a forest
    eagerly wraps all of its trees, about 64 py4j round trips a tree plus
    one detach each when the wrapper is dropped, although nothing here
    reads them. As a plain property, the trees are wrapped on each read.
    """

    trees = property(RandomForestClassificationModel.trees.func)


class _ForestClassifier(RandomForestClassifier):
    """``RandomForestClassifier`` whose fitted model is a ``_ForestModel``."""

    def _create_model(self, java_model) -> _ForestModel:
        return _ForestModel(java_model)


def build_pipeline(
    num_trees: int = 100, max_depth: int = 10, seed: int = 42
) -> Pipeline:
    """Assembler + RF, the reference's exact model config
    (``train_model.py:19-27``)."""
    # handleInvalid="skip": a malformed stream record parses to null fields
    # (from_json is permissive) and must not kill the scoring query — the
    # reference would crash here on its first corrupt Kafka message.
    assembler = VectorAssembler(
        inputCols=FEATURE_COLS, outputCol="features", handleInvalid="skip"
    )
    rf = _ForestClassifier(
        labelCol=LABEL_COL,
        featuresCol="features",
        numTrees=num_trees,
        maxDepth=max_depth,
        seed=seed,
    )
    return Pipeline(stages=[assembler, rf])


def train(train_df: DataFrame, **kwargs) -> PipelineModel:
    """Fit and return the pipeline model WITHOUT its training summary.

    ``copy()`` drops the classifier's ``trainingSummary`` (exactly like a
    save/load round trip does — production parity). The summary must not
    ride along: it pins the SparkSession in a non-transient field
    (``BinaryClassificationSummary.sparkSession``), and Spark 4's classic
    session holds a non-serializable ``ObservationManager`` in a lazy val
    — once ANY ``Observation`` has been used on the session (e.g.
    ``plans.metrics``), serializing a summary-carrying model into a
    scoring closure throws ``NotSerializableException``. Nothing in the
    engine reads the summary; per-query metrics come from the scored
    frame itself.
    """
    return build_pipeline(**kwargs).fit(train_df).copy()


def save_model(model: PipelineModel, path: str) -> None:
    """Persist (reference ``train_model.py:33``)."""
    model.write().overwrite().save(path)


def load_model(path: str) -> PipelineModel:
    """Load (reference ``predict.py:18``).

    The JVM reads the model; its stages are wrapped here, the forest as a
    ``_ForestModel``. ``PipelineModel.load`` would wrap it as a stock
    ``RandomForestClassificationModel`` and so wrap every tree.
    """
    java_model = _jvm().org.apache.spark.ml.PipelineModel.load(path)
    stages = [_wrap_stage(s) for s in java_model.stages()]
    return PipelineModel(stages)._resetUid(java_model.uid())


def _wrap_stage(java_stage) -> JavaParams:
    """Python wrapper of one loaded stage, as ``JavaParams._from_java``
    builds it."""
    if not java_stage.getClass().getName().endswith(".RandomForestClassificationModel"):
        return JavaParams._from_java(java_stage)
    forest = _ForestModel(java_stage)
    forest._transfer_params_from_java()
    return forest


def score(model: PipelineModel, df: DataFrame) -> DataFrame:
    """Stateless scoring — works identically on batch and streaming frames
    (reference O24, ``predict.py:34``)."""
    return model.transform(df)


def prediction_envelope(scored: DataFrame) -> DataFrame:
    """Output projection matching the reference's Kafka payload
    (``predict.py:37-44``): Time, Amount, actual_label, predicted_label."""
    return scored.select(
        F.col("Time"),
        F.col("Amount"),
        F.col(LABEL_COL).alias("actual_label"),
        F.col("prediction").alias("predicted_label"),
    )


def accuracy(scored: DataFrame) -> float:
    agg = scored.agg(
        F.avg((F.col("prediction") == F.col(LABEL_COL)).cast("double")).alias("acc")
    ).collect()[0]
    return float(agg["acc"])
