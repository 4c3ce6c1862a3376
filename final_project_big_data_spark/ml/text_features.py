"""MLlib text-vectorization surface (SURVEY C22): Tokenizer →
StopWordsRemover → {HashingTF → IDF | CountVectorizer}.

The exact TF-IDF values are pinned relationally by the oracle-checked
``t05_tfidf`` query; this module declares the MLlib estimator/transformer
chain a model-training pipeline actually uses (hashed, fixed-width
features). Scale: HashingTF is stateless/map-only (no vocabulary shuffle);
IDF and CountVectorizer each take one aggregation pass over the corpus —
CountVectorizer additionally broadcasts its vocabulary, so ``vocab_size``
bounds executor memory.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import (
    CountVectorizer,
    HashingTF,
    IDF,
    RegexTokenizer,
    StopWordsRemover,
)
from pyspark.sql import DataFrame

from final_project_big_data_spark.operators.text import STOPWORDS


def tfidf_pipeline(n_features: int = 1 << 12) -> Pipeline:
    """tokenize → stopword-filter → hashed TF → IDF ('tfidf' column)."""
    return Pipeline(
        stages=[
            RegexTokenizer(
                inputCol="text", outputCol="tokens", pattern=r"\s+"
            ),
            StopWordsRemover(
                inputCol="tokens", outputCol="filtered", stopWords=STOPWORDS
            ),
            HashingTF(
                inputCol="filtered", outputCol="tf", numFeatures=n_features
            ),
            IDF(inputCol="tf", outputCol="tfidf"),
        ]
    )


def count_vectorizer_pipeline(vocab_size: int = 256, min_df: int = 2) -> Pipeline:
    """tokenize → stopword-filter → explicit-vocabulary counts."""
    return Pipeline(
        stages=[
            RegexTokenizer(
                inputCol="text", outputCol="tokens", pattern=r"\s+"
            ),
            StopWordsRemover(
                inputCol="tokens", outputCol="filtered", stopWords=STOPWORDS
            ),
            CountVectorizer(
                inputCol="filtered",
                outputCol="counts",
                vocabSize=vocab_size,
                minDF=float(min_df),
            ),
        ]
    )


def fit_tfidf(docs: DataFrame, n_features: int = 1 << 12) -> PipelineModel:
    return tfidf_pipeline(n_features).fit(docs)


def fit_counts(docs: DataFrame, **kwargs) -> PipelineModel:
    return count_vectorizer_pipeline(**kwargs).fit(docs)
