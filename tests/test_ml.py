"""ML surface tests: registry-resolved scoring, API parity with the
reference's predict UDF, frozen-prediction reproducibility (FIXTURES.md C4)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from streaming_ml_with_ksql_spark import io as io_mod
from streaming_ml_with_ksql_spark.functions.scalars import as_array
from streaming_ml_with_ksql_spark.ml import predict as ml_predict
from streaming_ml_with_ksql_spark.ml.features import (
    INT_FEATURES,
    build_training_frame,
)
from tests.oracle import assert_query_matches

MODEL = "bot_detector"


@pytest.fixture(scope="module")
def frame(spark, sf_medium):
    return build_training_frame(
        io_mod.load_table(spark, sf_medium, "events"),
        io_mod.load_table(spark, sf_medium, "customer"),
    ).cache()


def test_tree_is_threshold_rule(spark):
    """Guards the SQL oracle for score_events: the frozen model must stay a
    single events_in_window<=4.5 split. If retraining changes this, the
    registry oracle must be re-derived."""
    from pyspark.ml import PipelineModel

    root = f"{ml_predict.DEFAULT_MODELS_DIR}/{MODEL}/Production"
    tree = PipelineModel.load(f"{root}/model").stages[-2]
    dbg = tree.toDebugString
    assert "feature 8 <= 4.5" in dbg and tree.depth == 1, dbg


def test_score_matches_frozen_predictions(spark, frame):
    frozen = spark.read.parquet(
        f"{ml_predict.DEFAULT_MODELS_DIR}/{MODEL}/Production/frozen_predictions"
    )
    sample = frame.orderBy("event_id").limit(200)
    live = ml_predict.score(sample, MODEL).select("event_id", "prediction")
    diff = live.join(
        frozen.withColumnRenamed("prediction", "frozen"), "event_id"
    ).filter(F.col("prediction") != F.col("frozen"))
    assert diff.count() == 0


def test_score_events_matches_oracle(spark, sf_medium):
    assert_query_matches(spark, "score_events", sf_medium)


def test_predict_arrays_matches_oracle(spark, sf_medium):
    assert_query_matches(spark, "predict_arrays_events", sf_medium)


def test_predict_arrays_error_to_null(spark, frame):
    """Malformed inputs → NULL prediction, query survives
    (reference: PredictUdf.java:60-63)."""
    bad = frame.limit(10).select(
        "event_id",
        as_array("c_mktsegment").alias("s"),
        F.lit(None).cast("array<int>").alias("i"),
    )
    out = ml_predict.predict_arrays(bad, MODEL, "s", "i")
    assert out.filter(F.col("prediction").isNotNull()).count() == 0

    short = frame.limit(10).select(
        "event_id",
        as_array("c_mktsegment").alias("s"),
        F.array(F.lit(1)).alias("i"),  # too short vs 4 int features
    )
    out2 = ml_predict.predict_arrays(short, MODEL, "s", "i")
    assert out2.filter(F.col("prediction").isNotNull()).count() == 0


def test_predict_arrays_keeps_caller_columns_named_like_signature(spark):
    """A caller column sharing a signature name comes back untouched: the
    array elements feed the model, not the caller's column, and an
    invalid row's dummy fill never leaks into it."""
    df = spark.createDataFrame(
        [
            (1, "MINE", 7, ["BUILDING"], [0, 0, 0, 1]),
            (2, "MINE", 7, None, None),
        ],
        "id long, c_mktsegment string, views_in_window long, "
        "s array<string>, i array<int>",
    )
    rows = {
        r["id"]: r
        for r in ml_predict.predict_arrays(df, MODEL, "s", "i").collect()
    }
    assert [r["c_mktsegment"] for r in rows.values()] == ["MINE", "MINE"]
    assert [r["views_in_window"] for r in rows.values()] == [7, 7]
    expected = ml_predict.score(
        spark.createDataFrame(
            [("BUILDING", 0, 0, 0, 1)],
            "c_mktsegment string, views_in_window int, clicks_in_window int, "
            "purchases_in_window int, events_in_window int",
        ),
        MODEL,
    ).first()["prediction"]
    assert rows[1]["prediction"] == expected
    assert rows[2]["prediction"] is None
    assert list(rows[1].asDict()) == [
        "id", "c_mktsegment", "views_in_window", "s", "i", "prediction"
    ]


def test_predict_arrays_null_element_and_extra_elements(spark):
    """A NULL element scores NULL, like a NULL or short array; elements
    past the signature's count are not read."""
    df = spark.createDataFrame(
        [
            (1, ["BUILDING", "extra"], [0, 0, 0, 9, 99]),
            (2, [None], [0, 0, 0, 9]),
            (3, ["BUILDING"], [0, None, 0, 9]),
        ],
        "id long, s array<string>, i array<int>",
    )
    got = {
        r["id"]: r["prediction"]
        for r in ml_predict.predict_arrays(df, MODEL, "s", "i").collect()
    }
    expected = ml_predict.score(
        spark.createDataFrame(
            [("BUILDING", 0, 0, 0, 9)],
            "c_mktsegment string, views_in_window int, clicks_in_window int, "
            "purchases_in_window int, events_in_window int",
        ),
        MODEL,
    ).first()["prediction"]
    assert got == {1: expected, 2: None, 3: None}
    assert expected is not None


def test_predict_sql_function_per_registry_root(spark, tmp_path):
    """The registered SQL function is predict_arrays' CASE over its two
    array arguments, and each registry root gets a function of its own."""
    import os
    import shutil

    shutil.copytree(
        os.path.join(ml_predict.DEFAULT_MODELS_DIR, MODEL, "Production"),
        tmp_path / MODEL / "Production",
    )
    df = spark.createDataFrame(
        [
            (1, ["BUILDING"], [0, 0, 0, 9]),
            (2, ["MACHINERY"], [0, 0, 0, 1]),
            (3, ["BUILDING"], [0, None, 0, 9]),
            (4, None, [0, 0, 0, 9]),
        ],
        "id long, s array<string>, i array<int>",
    )
    want = {r["id"]: r["prediction"] for r in ml_predict.predict_arrays(
        df, MODEL, "s", "i"
    ).collect()}
    try:
        shipped = ml_predict.register_sql_function(spark, MODEL)
        copied = ml_predict.register_sql_function(spark, MODEL, str(tmp_path))
        assert shipped != copied
        for fn in (shipped, copied):
            got = df.selectExpr("id", f"{fn}(s, i) AS prediction").collect()
            assert {r["id"]: r["prediction"] for r in got} == want
    finally:
        ml_predict.clear_model_cache()
    assert want[1] is not None and want[3] is None and want[4] is None


def test_predict_arrays_positional_binding(spark, frame):
    """Ints bind by position, not name (PredictUdf.java:48-56): swapping two
    positions must change which feature the threshold sees."""
    sample = frame.filter(F.col("events_in_window") >= 5).limit(5)
    if sample.count() == 0:
        pytest.skip("no bot-dense rows at this sf")
    ordered = sample.select(
        "event_id",
        as_array("c_mktsegment").alias("s"),
        as_array(*INT_FEATURES).alias("i"),
    )
    preds = ml_predict.predict_arrays(ordered, MODEL, "s", "i")
    assert preds.filter(F.col("prediction") == "bot").count() == sample.count()

    # events_in_window (last position) replaced by 0 → all 'user'
    zeroed = sample.select(
        "event_id",
        as_array("c_mktsegment").alias("s"),
        F.array(
            *[F.col(c) for c in INT_FEATURES[:-1]], F.lit(0)
        ).alias("i"),
    )
    preds0 = ml_predict.predict_arrays(zeroed, MODEL, "s", "i")
    assert preds0.filter(F.col("prediction") == "user").count() == sample.count()


def test_model_registry_lifecycle(spark, tmp_path):
    """MLflow stage-lifecycle parity on the local registry: register two
    versions (immutable, monotone numbers), promote v1 to Production,
    then promote v2 — v1 is archived automatically (the default
    workflow), the Production slot now scores with v2, and resolve_model
    needs no change to see the promotion. Staging promotion of an
    archived version works (rollback path); bad stages and unknown
    versions fail loudly."""
    import pytest as _pytest
    from pyspark.ml import PipelineModel

    from streaming_ml_with_ksql_spark.ml import predict as ml_predict
    from streaming_ml_with_ksql_spark.ml.predict import resolve_model
    from streaming_ml_with_ksql_spark.ml.registry import ModelRegistry
    from streaming_ml_with_ksql_spark.ml.train import SIGNATURE

    base_model = PipelineModel.load(  # the shipped model
        f"{ml_predict.DEFAULT_MODELS_DIR}/{MODEL}/Production/model"
    )
    shipped, _sig = resolve_model("Bot Detector")
    reg = ModelRegistry(str(tmp_path / "registry"))

    v1 = reg.register_model_version("Demo Model", base_model, SIGNATURE)
    v2 = reg.register_model_version("Demo Model", base_model, SIGNATURE)
    assert (v1, v2) == (1, 2)
    assert reg.get_version_stage("Demo Model", 1) == "None"

    reg.transition("Demo Model", 1, "Production")
    assert reg.get_latest_versions("Demo Model")["Production"] == 1

    ml_predict.clear_model_cache()
    m1, sig = resolve_model(
        "Demo Model", "Production", models_dir=str(tmp_path / "registry")
    )
    assert sig == SIGNATURE and m1 == shipped

    reg.transition("Demo Model", 2, "Production")
    assert reg.get_version_stage("Demo Model", 1) == "Archived"
    assert reg.get_latest_versions("Demo Model")["Production"] == 2

    # rollback: re-promote the archived v1 into Staging
    reg.transition("Demo Model", 1, "Staging")
    assert reg.get_version_stage("Demo Model", 1) == "Staging"
    ml_predict.clear_model_cache()
    m_stage, _ = resolve_model(
        "Demo Model", "Staging", models_dir=str(tmp_path / "registry")
    )
    assert m_stage == shipped

    with _pytest.raises(ValueError, match="unknown stage"):
        reg.transition("Demo Model", 1, "Canary")
    with _pytest.raises(KeyError, match="not registered"):
        reg.transition("Demo Model", 99, "Production")
    ml_predict.clear_model_cache()


def test_resolve_model_cache_keys_on_the_stage_directory(spark, tmp_path):
    """The same model name under another registry root is that root's
    model, not the shipped one; a display name and its directory name
    share one cache entry."""
    import json
    import os
    import shutil

    ml_predict.clear_model_cache()
    shipped, shipped_sig = ml_predict.resolve_model(MODEL)
    slot = tmp_path / MODEL / "Production"
    shutil.copytree(
        os.path.join(ml_predict.DEFAULT_MODELS_DIR, MODEL, "Production", "model"),
        slot / "model",
    )
    other_sig = {
        "inputs": shipped_sig["inputs"][:1],
        "outputs": shipped_sig["outputs"],
    }
    (slot / "MLmodel.json").write_text(json.dumps({"signature": other_sig}))
    try:
        _, sig = ml_predict.resolve_model(MODEL, models_dir=str(tmp_path))
        assert sig == other_sig != shipped_sig
        assert ml_predict.resolve_model("Bot Detector")[0] is shipped
    finally:
        ml_predict.clear_model_cache()


def test_classification_report_known_matrix(spark):
    """Hand-checked confusion matrix: labels/predictions with a class
    that is never predicted (recall only), one never true (precision
    only), and an exact-F1 case."""
    from streaming_ml_with_ksql_spark.ml.metrics import classification_report

    pairs = [
        ("a", "a"), ("a", "a"), ("a", "b"),   # a: tp=2, fn=1
        ("b", "a"), ("b", "b"),               # b: tp=1, fp from a
        ("c", "a"),                           # c: never predicted
        ("d", "d"),                           # clean class
    ]
    df = spark.createDataFrame(pairs, "label string, pred string")
    rep = {r["class"]: r for r in classification_report(df, "label", "pred").collect()}
    a = rep["a"]
    assert (a.n_true_d, a.n_pred_d, a.tp_d) == (3.0, 4.0, 2.0)
    assert a.precision == 0.5 and round(a.recall, 6) == 0.666667
    b = rep["b"]
    assert b.precision == 0.5 and b.recall == 0.5 and b.f1 == 0.5
    c = rep["c"]
    assert c.n_pred_d == 0.0 and c.precision == 0.0 and c.f1 == 0.0
    d = rep["d"]
    assert d.precision == d.recall == d.f1 == 1.0
