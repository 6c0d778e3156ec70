"""Trained quality classifier: fasttext-style hashed bag-of-ngrams +
logistic regression, the learned step up from the rule ladder
(gopher flags → unigram/bigram LM scores → THIS).

No reference counterpart (training-data extension, SURVEY §2.12).
Everything is Spark ML (JVM-side): RegexTokenizer → NGram →
HashingTF (feature hashing keeps the feature space fixed-width at any
corpus size — no vocabulary to collect or broadcast) →
LogisticRegression. Training shuffles only the label/feature rows;
scoring is one scan per batch with the (small) coefficient vector
shipped in the model. This is the CCNet/fasttext quality-filter
architecture re-expressed on Spark ML primitives.

Labels are the caller's business; :func:`weak_labels_from_gopher`
provides the standard bootstrap (rule-passing docs = positive) so a
classifier can be trained with zero human labels and then generalize
past the rules' blind spots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _stages(text_col: str, n_features: int):
    from pyspark.ml.feature import (
        HashingTF, NGram, RegexTokenizer, VectorAssembler,
    )
    tok = RegexTokenizer(inputCol="__txt", outputCol="__words",
                         pattern=r"[^a-zA-Z0-9']+", toLowercase=True)
    bi = NGram(n=2, inputCol="__words", outputCol="__bigrams")
    tf1 = HashingTF(inputCol="__words", outputCol="__tf1",
                    numFeatures=n_features)
    tf2 = HashingTF(inputCol="__bigrams", outputCol="__tf2",
                    numFeatures=n_features)
    asm = VectorAssembler(inputCols=["__tf1", "__tf2"],
                          outputCol="__features")
    return [tok, bi, tf1, tf2, asm]


def weak_labels_from_gopher(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Bootstrap labels: gopher_pass -> 1.0 else 0.0 (the standard
    zero-human-label seed for a quality model)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import gopher_rules
    flags = gopher_rules(F.col(text_col))
    # null text -> null flags; a NULL label crashes LogisticRegression,
    # and an empty/null doc is a fail by every gopher rule anyway
    label = F.coalesce(flags["gopher_pass"].cast("double"), F.lit(0.0))
    return df.withColumn("label", label)


def train_quality_classifier(labeled: DataFrame, text_col: str = "text",
                             label_col: str = "label",
                             n_features: int = 1 << 18,
                             reg_param: float = 0.001,
                             max_iter: int = 20):
    """Fit the hashed-ngram logistic pipeline on (text, label) rows;
    returns a PipelineModel (save with ``model.write()`` — at 100 TB
    you train once on a sample and score everywhere)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    lr = LogisticRegression(featuresCol="__features", labelCol=label_col,
                            maxIter=max_iter, regParam=reg_param)
    pipe = Pipeline(stages=_stages(text_col, n_features) + [lr])
    prepped = labeled.withColumn(
        "__txt", F.coalesce(F.col(text_col), F.lit("")))
    return pipe.fit(prepped)


def load_quality_classifier(path: str):
    """Reload a model saved from :func:`train_quality_classifier`
    (Spark ML's native loader)."""
    from pyspark.ml import PipelineModel
    return PipelineModel.load(path)


def score_quality(df: DataFrame, model, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, quality_prob) — P(label=1) per doc, one scan."""
    from pyspark.ml.functions import vector_to_array
    prepped = df.withColumn("__txt",
                            F.coalesce(F.col(text_col), F.lit("")))
    out = model.transform(prepped)
    prob = F.round(F.element_at(vector_to_array("probability"), 2), 6)
    return out.select(F.col(id_col).alias("id"),
                      prob.alias("quality_prob"))
