"""Registry-resolved model scoring (reference: PredictUdf.java,
MlflowModelResolver.java — SURVEY.md U1-U3).

The reference's `predict` UDF scores one row per call: resolve the
"Production"-stage model by name (cached after first fetch,
PredictUdf.java:43-45), build params = strings ++ ints in signature order
(:48-54), wrap in a 1-row MLeap LeapFrame (:55-57), return the output
column, NULL on any error (:60-63).

Spark-native translation: scoring is a *DataFrame* operator —
``PipelineModel.transform`` over the whole frame (the UDF's per-row
LeapFrame was only ever simulating this one row at a time). The API
preserves the UDF's contract:

- model resolved by (name, stage) from a registry dir, cached per process
  and stage directory
  (the ConcurrentHashMap at PredictUdf.java:33 becomes a module-level dict);
- inputs arrive as an array<string> + array<int> pair in signature order
  (README.md:68 ``predict('Bot Detector', as_array(...), as_array(...))``);
- signature types are validated/coerced exactly like
  MlflowModelResolver.java:62-76 (string→string, integer/long→int,
  anything else → error);
- scoring failure → NULL prediction, query survives.

Scale notes: transform-based scoring is a narrow map stage — no shuffle,
stays in the JVM (the tree model is a Catalyst-evaluable pipeline), and
broadcasts the (small) model to every executor once.
"""

from __future__ import annotations

import json
import os

from pyspark.ml import PipelineModel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .registry import dir_name

__all__ = ["resolve_model", "score", "predict_arrays", "clear_model_cache"]

DEFAULT_MODELS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "models",
)

# stage directory → (model, signature); per-process lazy cache
# (reference: PredictUdf.java:33,43-45).
_CACHE: dict[str, tuple[PipelineModel, dict]] = {}


def clear_model_cache() -> None:
    _CACHE.clear()


def resolve_model(
    name: str, stage: str = "Production", models_dir: str | None = None
) -> tuple[PipelineModel, dict]:
    """Resolve a named+staged model from the local registry
    (reference: MlflowModelResolver.java:44-56,115-117 — stage-resolved
    lazy fetch, cached per stage directory, so a display name and its
    directory name share one entry and each registry root has its own)."""
    root = os.path.abspath(
        os.path.join(models_dir or DEFAULT_MODELS_DIR, dir_name(name), stage)
    )
    if root not in _CACHE:
        model = PipelineModel.load(os.path.join(root, "model"))
        with open(os.path.join(root, "MLmodel.json")) as f:
            signature = json.load(f)["signature"]
        _CACHE[root] = (model, signature)
    return _CACHE[root]


def _coerce(col: Column, typ: str, name: str) -> Column:
    """Signature type mapping (reference: MlflowModelResolver.java:62-76):
    string→string, integer/long→int, anything else is an error."""
    if typ == "string":
        return col.cast("string")
    if typ in ("integer", "long"):
        return col.cast("int")
    raise ValueError(f"Unsupported signature type for {name}: {typ}")


def score(
    df: DataFrame,
    model_name: str,
    *,
    stage: str = "Production",
    models_dir: str | None = None,
    output_col: str = "prediction",
) -> DataFrame:
    """Score a DataFrame whose columns already match the model signature by
    name — the preferred whole-frame path (SURVEY.md U2 option 1)."""
    model, signature = resolve_model(model_name, stage, models_dir)
    prepared = df.withColumns(
        {
            s["name"]: _coerce(F.col(s["name"]), s["type"], s["name"])
            for s in signature["inputs"]
        }
    )
    out_name = signature["outputs"][0]["name"]
    scored = model.transform(prepared)
    return scored.select(*df.columns, F.col(out_name).alias(output_col))


def predict_arrays(
    df: DataFrame,
    model_name: str,
    str_array_col: str,
    int_array_col: str,
    *,
    stage: str = "Production",
    models_dir: str | None = None,
    output_col: str = "prediction",
) -> DataFrame:
    """API-parity form of the reference UDF
    (README.md:68: ``predict('Bot Detector', as_array(country, platform),
    as_array(product_views, ...))``): inputs are an array<string> and an
    array<int> whose elements are *positional* against the signature
    (PredictUdf.java:48-56 — strings first, then ints, signature order).

    Rows whose arrays are null / too short / null-elemented score as NULL
    (error→NULL, PredictUdf.java:60-63) — implemented as a validity
    predicate + dummy fill so the whole frame still scores in one JVM pass
    rather than per-row try/except, and the model never sees nulls.

    Caller columns that share a signature name step aside under a private
    name while the filled model inputs take it, and come back untouched;
    scoring itself is :func:`score`.
    """
    _, signature = resolve_model(model_name, stage, models_dir)
    str_names = [s["name"] for s in signature["inputs"] if s["type"] == "string"]
    int_names = [s["name"] for s in signature["inputs"] if s["type"] != "string"]
    clash = {c: f"__in_{c}" for c in df.columns if c in str_names + int_names}
    strs = F.col(clash.get(str_array_col, str_array_col))
    ints = F.col(clash.get(int_array_col, int_array_col))

    # F.get (not getItem): out-of-bounds must yield NULL, not an ANSI
    # INVALID_ARRAY_INDEX error — NULLs then trip the validity predicate.
    raw_str = [F.get(strs, i) for i in range(len(str_names))]
    raw_int = [F.get(ints, i).cast("int") for i in range(len(int_names))]
    valid = (
        strs.isNotNull()
        & (F.size(strs) >= len(str_names))
        & ints.isNotNull()
        & (F.size(ints) >= len(int_names))
    )
    for c in raw_str + raw_int:
        valid = valid & c.isNotNull()

    fills = {n: F.coalesce(c, F.lit("UNKNOWN")) for n, c in zip(str_names, raw_str)}
    fills.update({n: F.coalesce(c, F.lit(0)) for n, c in zip(int_names, raw_int)})
    inputs = df.withColumnsRenamed(clash).withColumns({"__valid": valid, **fills})
    scored = score(
        inputs, model_name, stage=stage, models_dir=models_dir, output_col="__pred"
    )
    pred = F.when(F.col("__valid"), F.col("__pred")).otherwise(
        F.lit(None).cast("string")
    )
    return (
        scored.withColumn(output_col, pred)
        .drop("__valid", "__pred", *fills)
        .withColumnsRenamed({v: k for k, v in clash.items()})
    )
