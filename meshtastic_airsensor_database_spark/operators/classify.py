"""Trained text classification for corpus curation (SURVEY.md §2.11
text_analysis — the model-based tier above the heuristics).

Production curation pipelines pair cheap heuristics (functions/
text.py::lang_id_pred, quality_features) with small trained
classifiers (fastText-style language ID, quality scorers trained
against a reference corpus). This module is that tier on Spark ML:
tokenize → feature-hash → multinomial logistic regression, trained and
applied as one Pipeline.

Scale posture: training is one ML job over (a sample of) the corpus —
amortized across the whole pipeline run; inference is a narrow
per-row transform (hashing + one matrix-vector product per doc, all
JVM-side) that fuses into the scan like any projection. The feature
hasher keeps the model size fixed (2^14 dims) regardless of
vocabulary, so the broadcast model never grows with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HASH_DIM = 1 << 14


def train_langid_model(docs: DataFrame, text_col: str = "text", label_col: str = "lang"):
    """Fit the language-ID pipeline (tokenizer → HashingTF → IDF →
    multinomial LR) on the given corpus slice. Returns the fitted
    PipelineModel; ``model.stages[-1]`` exposes the label mapping via
    the StringIndexer in stage 1."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, IDF, RegexTokenizer, StringIndexer

    pipe = Pipeline(
        stages=[
            RegexTokenizer(
                inputCol=text_col, outputCol="_toks", pattern=r"\s+", toLowercase=True
            ),
            StringIndexer(inputCol=label_col, outputCol="_label", handleInvalid="skip"),
            HashingTF(inputCol="_toks", outputCol="_tf", numFeatures=HASH_DIM),
            IDF(inputCol="_tf", outputCol="_features"),
            LogisticRegression(
                featuresCol="_features",
                labelCol="_label",
                maxIter=30,
                regParam=1e-3,
                family="multinomial",
            ),
        ]
    )
    return pipe.fit(docs)


def predict_lang(model, docs: DataFrame) -> DataFrame:
    """Apply the fitted pipeline; returns the input plus ``pred_lang``
    (decoded back to the string label)."""
    from pyspark.ml.feature import IndexToString

    labels = model.stages[1].labelsArray[0]
    pred = model.transform(docs)
    decoded = IndexToString(
        inputCol="prediction", outputCol="pred_lang", labels=list(labels)
    ).transform(pred)
    return decoded.drop("_toks", "_label", "_tf", "_features", "rawPrediction",
                        "probability", "prediction")
