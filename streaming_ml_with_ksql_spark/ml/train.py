"""Training pipeline (reference: train.py:288-372, M3-M15 in SURVEY.md §2.7).

Same pipeline shape as the reference, Spark-native end to end:
StringIndexer → OneHotEncoder → VectorAssembler → DecisionTreeClassifier →
IndexToString, 3-fold CrossValidator over a maxDepth×maxBins grid, then the
serving pipeline is rebuilt *without* the label indexer stage (reference:
train.py:349-351) so it scores raw feature rows and emits a string label.

MLeap is dropped deliberately (SURVEY.md M15): it existed only to run a
Spark-trained model outside Spark ML (inside ksqlDB's JVM). Here the saved
PipelineModel is compiled into one SQL expression instead
(``predict.resolve_model``), so these are the stage types and modes the
compiler covers: change a stage or a ``handleInvalid`` mode and scoring
raises at resolve until the compiler learns it.

Determinism (SURVEY.md §7 hard part 5): fixed seeds on randomSplit and the
classifier; the fitted model is persisted to the local registry so scoring
queries never retrain.
"""

from __future__ import annotations

import json
import os

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import DecisionTreeClassifier
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import (
    IndexToString,
    OneHotEncoder,
    StringIndexer,
    VectorAssembler,
)
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame

from .features import INT_FEATURES, LABEL_COL, STRING_FEATURES

__all__ = ["train_bot_detector", "save_model", "SIGNATURE"]

SEED = 42

# The model's input/output signature — positional type contract
# (reference: train.py:352-362; MlflowModelResolver.java:62-76).
SIGNATURE = {
    "inputs": [{"name": c, "type": "string"} for c in STRING_FEATURES]
    + [{"name": c, "type": "integer"} for c in INT_FEATURES],
    "outputs": [{"name": "predicted_label", "type": "string"}],
}


def train_bot_detector(frame: DataFrame) -> tuple[PipelineModel, float]:
    """Fit the bot-detector (reference: train.py:288-347) and return the
    serving model (label indexer removed, train.py:349-351) + test AUC."""
    # Labels are a closed set ({bot,user}); 'keep' would add a phantom third
    # class and break the binary evaluator.
    label_indexer = StringIndexer(inputCol=LABEL_COL, outputCol="label_idx")
    cat_indexers = [
        StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep")
        for c in STRING_FEATURES
    ]
    encoders = [
        OneHotEncoder(inputCol=f"{c}_idx", outputCol=f"{c}_vec")
        for c in STRING_FEATURES
    ]
    assembler = VectorAssembler(
        inputCols=[f"{c}_vec" for c in STRING_FEATURES] + list(INT_FEATURES),
        outputCol="features",
    )
    tree = DecisionTreeClassifier(
        labelCol="label_idx", featuresCol="features", seed=SEED
    )

    train_df, test_df = frame.randomSplit([0.7, 0.3], seed=SEED)

    # The label indexer must be fit first so IndexToString can invert it
    # (reference: train.py:306-310).
    label_model = label_indexer.fit(frame)
    un_indexer = IndexToString(
        inputCol="prediction",
        outputCol="predicted_label",
        labels=label_model.labels,
    )

    pipeline = Pipeline(stages=cat_indexers + encoders + [assembler, tree, un_indexer])

    grid = (
        ParamGridBuilder()
        .addGrid(tree.maxDepth, [3, 5, 7])
        .addGrid(tree.maxBins, [16, 32])
        .build()
    )
    evaluator = BinaryClassificationEvaluator(
        labelCol="label_idx", rawPredictionCol="rawPrediction"
    )
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=3,
        seed=SEED,
        parallelism=4,
    )
    cv_model = cv.fit(label_model.transform(train_df))
    auc = evaluator.evaluate(cv_model.transform(label_model.transform(test_df)))
    return cv_model.bestModel, float(auc)


def save_model(model: PipelineModel, models_dir: str, name: str, stage: str) -> str:
    """Persist to the local registry: models/<name>/<stage>/{model, MLmodel.json}.

    Mirrors the MLflow layout the reference resolves (stage-named model +
    signature metadata; reference: MlflowModelResolver.java:78-117).
    """
    root = os.path.join(models_dir, name, stage)
    model.write().overwrite().save(os.path.join(root, "model"))
    with open(os.path.join(root, "MLmodel.json"), "w") as f:
        json.dump({"name": name, "stage": stage, "signature": SIGNATURE}, f, indent=2)
    return root
