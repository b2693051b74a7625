"""Parity of the compiled scoring expression (ml/predict.py) with
``PipelineModel.transform``, which stays here only as the oracle.

Two models: the shipped one (one split, events_in_window <= 4.5) and a
freshly fitted tree (maxDepth 5) whose label depends on the market segment, so
that categorical splits on one-hot slots occur. Each is scored over the
sf0.01 training frame plus edge rows: every market segment, an unseen one
and NULL, crossed with each split threshold's integer neighbours.
"""

from __future__ import annotations

import math
import re
import shutil
from pathlib import Path

import pyspark.sql.functions as F
import pytest
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import DecisionTreeClassifier
from pyspark.ml.feature import (
    IndexToString,
    OneHotEncoder,
    StringIndexer,
    VectorAssembler,
)

from streaming_ml_with_ksql_spark import io as io_mod
from streaming_ml_with_ksql_spark.ml import predict as ml_predict
from streaming_ml_with_ksql_spark.ml.features import (
    INT_FEATURES,
    STRING_FEATURES,
    build_training_frame,
)
from streaming_ml_with_ksql_spark.ml.train import SIGNATURE, save_model

SHIPPED = Path(ml_predict.DEFAULT_MODELS_DIR) / "bot_detector" / "Production"
COLS = [s["name"] for s in SIGNATURE["inputs"]]
SCHEMA = "k long, c_mktsegment string, " + ", ".join(f"{c} int" for c in INT_FEATURES)


@pytest.fixture(scope="module")
def frame(spark, sf_medium):
    return build_training_frame(
        io_mod.load_table(spark, sf_medium, "events"),
        io_mod.load_table(spark, sf_medium, "customer"),
    ).cache()


def _fit_fresh(frame, root: str):
    """A maxDepth-5 tree over the serving stages of ml/train.py, fitted on a
    segment-dependent label and saved under ``root`` as model "fresh"."""
    seg = F.col("c_mktsegment")
    labeled = frame.withColumn(
        "label",
        F.when(
            (seg == "BUILDING") & (F.col("events_in_window") >= 3)
            | (seg == "MACHINERY") & (F.col("views_in_window") >= 1)
            | (F.col("clicks_in_window") >= 2),
            "bot",
        ).otherwise("user"),
    )
    label_model = StringIndexer(inputCol="label", outputCol="label_idx")
    label_model = label_model.fit(labeled)
    stages = [
        StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep")
        for c in STRING_FEATURES
    ] + [
        OneHotEncoder(inputCol=f"{c}_idx", outputCol=f"{c}_vec")
        for c in STRING_FEATURES
    ] + [
        VectorAssembler(
            inputCols=[f"{c}_vec" for c in STRING_FEATURES] + list(INT_FEATURES),
            outputCol="features",
        ),
        DecisionTreeClassifier(
            labelCol="label_idx", featuresCol="features", maxDepth=5, seed=42
        ),
        IndexToString(
            inputCol="prediction",
            outputCol="predicted_label",
            labels=label_model.labels,
        ),
    ]
    model = Pipeline(stages=stages).fit(label_model.transform(labeled))
    save_model(model, root, "fresh", "Production")
    return model


@pytest.fixture(scope="module")
def fresh(frame, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("registry"))
    return _fit_fresh(frame, root), root


def _edge_rows(spark, model):
    """Every segment (plus an unseen one and NULL) × each continuous
    split's integer neighbours, one int feature moved at a time."""
    tree = model.stages[-2]
    n_slots = tree.numFeatures - len(INT_FEATURES)
    splits = re.findall(r"feature (\d+) <= ([-\d.E]+)", tree.toDebugString)
    moves = [(None, None)] + [
        (INT_FEATURES[int(f) - n_slots], v)
        for f, t in sorted(set(splits))
        for v in range(math.floor(float(t)) - 1, math.floor(float(t)) + 3)
    ]
    rows = []
    for seg in model.stages[0].labels + ["NOT_A_SEGMENT", None]:
        for col, v in moves:
            ints = {c: 1 for c in INT_FEATURES}
            if col is not None:
                ints[col] = v
            rows.append((len(rows), seg, *(ints[c] for c in INT_FEATURES)))
    return spark.createDataFrame(rows, SCHEMA)


def _assert_parity(model, df, name, models_dir=None):
    """score() equals the oracle transform on every row keyed by ``k``."""
    ours = ml_predict.score(df, name, models_dir=models_dir)
    ours = ours.select("k", "prediction")
    want = model.transform(df).select(
        "k", F.col("predicted_label").alias("prediction")
    )
    assert sorted(ours.collect()) == sorted(want.collect())


def _keyed(frame):
    return frame.select(F.col("event_id").alias("k"), *COLS)


def test_shipped_model_matches_transform(spark, frame):
    model = PipelineModel.load(str(SHIPPED / "model"))
    _assert_parity(model, _keyed(frame), "bot_detector")
    _assert_parity(model, _edge_rows(spark, model), "bot_detector")


def test_fresh_deep_tree_matches_transform(spark, frame, fresh):
    model, root = fresh
    dbg = model.stages[-2].toDebugString
    assert model.stages[-2].depth >= 4 and " in {" in dbg, dbg
    _assert_parity(model, _keyed(frame), "fresh", root)
    _assert_parity(model, _edge_rows(spark, model), "fresh", root)


def test_null_int_input_raises_on_both_sides(spark):
    """VectorAssembler's handleInvalid='error': a NULL int raises, even in
    a feature the tree never reads (the shipped tree reads only
    events_in_window)."""
    model = PipelineModel.load(str(SHIPPED / "model"))
    df = spark.createDataFrame([(1, "BUILDING", None, 0, 0, 9)], SCHEMA)
    with pytest.raises(Exception, match="NULL or NaN input"):
        ml_predict.score(df, "bot_detector").collect()
    with pytest.raises(Exception, match="null"):
        model.transform(df).collect()


@pytest.mark.parametrize(
    "stage, old, new",
    [
        ("0_StringIndexer", '"handleInvalid":"keep"', '"handleInvalid":"skip"'),
        ("4_IndexToString", "feature.IndexToString", "feature.Bucketizer"),
    ],
)
def test_unsupported_stage_raises_at_resolve(tmp_path, stage, old, new):
    """A stage type or handleInvalid mode the compiler does not cover fails
    at resolve, before anything is scored (no fallback to transform)."""
    slot = tmp_path / "bot_detector" / "Production"
    shutil.copytree(SHIPPED, slot, ignore=shutil.ignore_patterns("frozen_*"))
    (meta,) = slot.glob(f"model/stages/{stage}_*/metadata/part-*")
    assert old in meta.read_text()
    meta.write_text(meta.read_text().replace(old, new))
    with pytest.raises(ValueError, match="supported"):
        ml_predict.resolve_model("bot_detector", models_dir=str(tmp_path))


def test_string_literals_survive_the_sql_text(spark):
    for v in ["it's", "back\\slash", "\\'", "ünï ☃", '"q"']:
        assert spark.sql(f"SELECT {ml_predict._str(v)} AS v").first()["v"] == v
