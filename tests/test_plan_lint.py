"""Global plan lint (VERDICT r7 #3): ONE gate over EVERY registered query.

The per-wave plan-pin suites in test_plans.py protect ~40 queries; this
test walks the physical plan of ALL registry entries at sf0.001 and
rejects the scale-killer shapes outright:

- ``CartesianProduct`` — an unkeyed all-pairs join is quadratic at any SF
  (zero occurrences today; none may enter);
- a ``Window`` running directly on ``Exchange SinglePartition`` — a global
  sort-window funnels the whole table through one task (the r6 RFM
  lesson; operators/rank.py exists so nothing needs this);
- ``BroadcastNestedLoopJoin`` whose build side is not PROVABLY bounded:
  benign when the broadcast frame's logical ``maxRows`` is a driver-scale
  constant (global aggregates -> 1 row, literal grids), otherwise the
  query must appear in exactly one documented bounded-frame idiom below.

A new query that introduces a BNLJ over an unbounded frame — the thing
that OOMs the broadcast at 100 TB — fails this test until its bound is
argued in an idiom entry.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from streaming_ml_with_ksql_spark import registry

SF = "/root/testdata/sf0.001"

# Build sides whose logical maxRows is defined and at most this are
# driver-bounded by construction (1-row global aggregates, literal
# threshold grids, the 200-resample index frame).
MAX_BOUNDED_BUILD_ROWS = 1000

# Window-on-SinglePartition whitelist: tiny-frame loops only.
WINDOW_SINGLE_PARTITION_WHITELIST: dict[str, str] = {
    "mmr_diverse_retrieval": "20-row candidate frame (top-k serving cutoff)",
    "corpus_rag_pipeline": "composes mmr_diverse_retrieval's 20-row loop",
}

# BNLJ idiom whitelist: queries whose broadcast build side has no logical
# maxRows but is bounded by a data-independent (or sublinear) quantity the
# design documents. Grouped by idiom; every entry names its row bound.
BNLJ_BOUNDED_IDIOMS: dict[str, tuple[str, frozenset[str]]] = {
    "calendar-bounded series frame": (
        "one row per day/week in the retention window (<= ~3.7k rows per "
        "decade) — daily aggregates joined by range conditions",
        frozenset(
            {
                "ransac_daily_trend",
                "seasonal_decompose_daily",
                "seasonal_anomaly_days",
                "theil_sen_revenue_trend",
                "mann_kendall_revenue",
                "cusum_daily_revenue",
                "isotonic_daily_trend",
                "bootstrap_revenue_ci",
                "user_life_table",
                "revenue_autocorr",
            }
        ),
    ),
    "histogram-of-counts / value-cell frame": (
        "bounded by distinct bucketed values (cents cells, dollar buckets, "
        "integer gap cells — ~1e4 cells regardless of row count; the "
        "documented O(C^2) broadcast self-join idiom)",
        frozenset(
            {
                "quantile_sketch_events",
                "quantile_sketch_accuracy",
                "key_skew_profile",
                "roc_auc_purchase",
                "wasserstein_weekend_value",
                "ks_weekend_value_drift",
                "value_drift_spearman",
                "funnel_time_to_convert",
                "t_closeness_report",
                "kendall_tau_hour_value",
                "isotonic_recalibration_bins",
                "ece_after_isotonic_recalibration",
                "gains_decile_lift",
                "mann_whitney_weekend_value",
                # streaming twins (streaming_mann_whitney_ingest,
                # streaming_kruskal_ingest, streaming_cusum_ingest) are
                # NOT listed: test_no_scale_killer_plans_anywhere skips
                # every streaming_* name before consulting this table,
                # so an entry here would be dead code (ADVICE r11).
                "wilcoxon_signed_rank_user_value",
                "ablation_grid_assignments",
                "kruskal_wallis_value_by_type",
                # r12: exact integer two-level median — deci-cell prefix
                # (range-bounded ~4.9k cells) then <=10 centi cells
                "brown_forsythe_value_by_type",
                "kaplan_meier_conversion",
                "kaplan_meier_greenwood",
                "logrank_conversion_cohorts",
            }
        ),
    ),
    "k-bounded model artifact": (
        "broadcast side is the model, not the data: k centroids, 15-row "
        "threshold grids, per-class stats (<= a few hundred rows by "
        "hyperparameter)",
        frozenset(
            {
                "kmeans_embedding_clusters",
                "naive_bayes_event_type",
                "customer_rfm_segments",
                "embedding_topk_ivf",
            }
        ),
    ),
    "bounded probe/query set": (
        "ANN/classification serve path: the corpus side streams and the "
        "broadcast BUILD side is the <= 100-row probe set — enforced "
        "STRUCTURALLY below (VERDICT r8 #2): every unbounded BNLJ build "
        "subtree must contain a `id < N` literal filter with N <= "
        "MAX_PROBE_LITERAL, so a corpus-side broadcast cannot re-enter "
        "under this idiom",
        frozenset(
            {
                "text_semantic_search",
                "embedding_topk_bruteforce",
                "hard_negative_mining",
                "ndcg_retrieval_eval",
                "binary_hamming_topk",
                "binary_vs_float_recall",
                "binary_rerank_pipeline",
                "int8_quantized_topk",
                "semantic_decontaminate",
                "mrr_retrieval_eval",
                "map_retrieval_eval",
                "contrastive_triplets",
            }
        ),
    ),
    "all-pairs oracle baseline": (
        "leave-one-out eval where the probe IS the corpus by definition "
        "(every vector classified against all others) — the declared "
        "all-pairs oracle baseline; the serve twins (lsh/ivf, <= 100-row "
        "probes) carry the scale path",
        frozenset({"knn_loo_classification"}),
    ),
}

# Structural bound for the "bounded probe/query set" idiom: the literal in
# the build subtree's `col < N` probe filter.
MAX_PROBE_LITERAL = 100

PROBE_IDIOM_NAMES = BNLJ_BOUNDED_IDIOMS["bounded probe/query set"][1]

_IDIOM_NAMES = frozenset().union(*(s for _, s in BNLJ_BOUNDED_IDIOMS.values()))

# Streaming replay twins execute their micro-batch drain during
# construction and return a memory-sink scan — their physical stream
# shapes are pinned in tests/test_streaming.py; explaining the drained
# result here would lint a LocalTableScan, not the operator.
SKIP_PREFIXES = ("streaming_",)


def _walk(jnode):
    yield jnode
    it = jnode.children().iterator()
    while it.hasNext():
        yield from _walk(it.next())


# The exact id columns the probe frames filter on — resolved from the
# probe idiom implementations (operators/similarity.py `vec_id < n`
# filters; text/doc probes use doc_id/query_id). A bare endswith("id")
# would bless `valid < 5` or `band_id < 3` on a corpus-side build
# (ADVICE r10) — membership in this set is required, not a suffix.
PROBE_ID_COLUMNS = frozenset({"vec_id", "doc_id", "query_id"})


def _probe_bounded(build_child) -> bool:
    """True iff the BNLJ build subtree contains a `<probe id col> < N`
    literal filter with N <= MAX_PROBE_LITERAL — for non-negative unique
    ids that bounds the broadcast at N rows at EVERY scale. Anchored to
    the resolved PROBE_ID_COLUMNS allowlist (ADVICE r9/r10: a bare
    `< N)` regex false-passes `rel < 1`; an endswith("id") heuristic
    false-passes `valid < 5`); every probe idiom filters exactly one of
    these unique id columns."""
    import re

    for sub in _walk(build_child):
        if sub.getClass().getSimpleName() == "FilterExec":
            for m in re.finditer(r"(\w+)#\d+L? < (\d+)\)", sub.toString()):
                if (
                    m.group(1) in PROBE_ID_COLUMNS
                    and int(m.group(2)) <= MAX_PROBE_LITERAL
                ):
                    return True
    return False


def _lint_one(df, *, require_probe_build: bool = False) -> str | None:
    jplan = df._jdf.queryExecution().sparkPlan()
    unbounded_bnlj = False
    nodes = list(_walk(jplan))
    for i, n in enumerate(nodes):
        cls = n.getClass().getSimpleName()
        if cls == "CartesianProductExec":
            return "CartesianProduct"
        if cls == "BroadcastNestedLoopJoinExec":
            side = n.buildSide().toString()
            child = n.children().apply(1 if side == "BuildRight" else 0)
            ll = child.logicalLink()
            mr = ll.get().maxRows() if ll.isDefined() else None
            bound = mr.get() if (mr is not None and mr.isDefined()) else None
            if bound is None or bound > MAX_BOUNDED_BUILD_ROWS:
                if require_probe_build and not _probe_bounded(child):
                    return "BNLJ build side is not the bounded probe frame"
                unbounded_bnlj = True
        if cls == "WindowExec":
            child = n.children().apply(0)
            for sub in _walk(child):
                scls = sub.getClass().getSimpleName()
                if scls == "ShuffleExchangeExec":
                    if "SinglePartition" in sub.outputPartitioning().toString():
                        return "Window on SinglePartition"
                    break
                if scls in ("SortExec", "ProjectExec", "FilterExec"):
                    continue
                break
    return "unbounded BNLJ build side" if unbounded_bnlj else None


def test_no_scale_killer_plans_anywhere(spark):
    offenders: dict[str, str] = {}
    for name in registry.queries():
        if name.startswith(SKIP_PREFIXES):
            continue
        df = registry._REGISTRY[name].spark(spark, SF)
        verdict = _lint_one(df, require_probe_build=name in PROBE_IDIOM_NAMES)
        if verdict is None:
            continue
        if verdict == "BNLJ build side is not the bounded probe frame":
            offenders[name] = verdict
            continue
        if verdict == "Window on SinglePartition" and (
            name in WINDOW_SINGLE_PARTITION_WHITELIST
        ):
            continue
        if verdict == "unbounded BNLJ build side" and name in _IDIOM_NAMES:
            continue
        offenders[name] = verdict
    assert not offenders, offenders


def test_whitelists_are_small_and_justified():
    assert len(WINDOW_SINGLE_PARTITION_WHITELIST) <= 10
    assert len(BNLJ_BOUNDED_IDIOMS) <= 10
    registered = set(registry._REGISTRY)
    for name, why in WINDOW_SINGLE_PARTITION_WHITELIST.items():
        assert name in registered, name
        assert any(ch.isdigit() for ch in why), name
    for idiom, (why, names) in BNLJ_BOUNDED_IDIOMS.items():
        assert any(ch.isdigit() for ch in why), idiom
        missing = names - registered
        assert not missing, (idiom, missing)
    # idiom groups must be disjoint (exactly one justification per query)
    all_names = [n for _, s in BNLJ_BOUNDED_IDIOMS.values() for n in s]
    assert len(all_names) == len(set(all_names))


def test_probe_anchor_rejects_mislabeled_id_suffix(spark):
    """Negative control for the probe-bound anchor (ADVICE r10 /
    VERDICT r10 #4): a corpus-side BNLJ build whose only `< N` filter is
    on a column merely ENDING in 'id' (`valid < 5`) must FAIL the lint;
    the identical plan filtered on the real probe id column (vec_id)
    must pass. This pins the allowlist semantics — an endswith('id')
    heuristic would bless the first plan."""
    from pyspark.sql import functions as F

    from streaming_ml_with_ksql_spark.io import load_table

    emb = load_table(spark, SF, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("cid"))
    # createDataFrame: RDD-backed scan, NO logical maxRows (round-10
    # note), and the column is genuinely named `valid` — an aliased
    # parquet column would be rewritten back to vec_id by pushdown.
    probe_like = spark.createDataFrame(
        [(i,) for i in range(10)], "valid long"
    ).filter(F.col("valid") < 5)
    bad = corpus.join(
        F.broadcast(probe_like), corpus.cid > probe_like.valid
    )
    assert (
        _lint_one(bad, require_probe_build=True)
        == "BNLJ build side is not the bounded probe frame"
    )
    good_build = spark.createDataFrame(
        [(i,) for i in range(10)], "vec_id long"
    ).filter(F.col("vec_id") < 5)
    good = corpus.join(
        F.broadcast(good_build), corpus.cid > good_build.vec_id
    )
    # probe anchor passes -> falls through to the generic unbounded-BNLJ
    # verdict, which the registry test waives per documented idiom (the
    # probe-specific rejection above must NOT fire here)
    assert (
        _lint_one(good, require_probe_build=True)
        == "unbounded BNLJ build side"
    )


# ---------------------------------------------------------------------------
# Source lint: one way to size a frame, one way to feed a single-task kernel,
# one way to materialize
# ---------------------------------------------------------------------------

_PKG = Path(registry.__file__).resolve().parent.parent
# Deployment settings (cores, driver memory, data dir) are the only env
# reads; every operator bound is a module constant tests can monkeypatch.
_ENV_READERS = {"session.py", "io.py"}
_ENV_READ = re.compile(r"\bos\.(environ\b|getenv\()")
_ONE_TASK_FEED = re.compile(
    r"\.(coalesce|repartition)\(\s*1\s*\)\s*\.mapInPandas\b"
)
_MATERIALIZE = re.compile(r"\.(localCheckpoint|persist|cache|checkpoint)\(")


def _package_sources():
    for path in sorted(_PKG.rglob("*.py")):
        yield path, path.read_text()


def test_env_reads_only_in_session_and_io():
    offenders = [
        str(path.relative_to(_PKG))
        for path, src in _package_sources()
        if path.name not in _ENV_READERS and _ENV_READ.search(src)
    ]
    assert not offenders, f"env reads outside session.py/io.py: {offenders}"


def test_single_task_feeds_only_in_sizing():
    offenders = [
        str(path.relative_to(_PKG))
        for path, src in _package_sources()
        if path.name != "sizing.py" and _ONE_TASK_FEED.search(src)
    ]
    assert not offenders, (
        f"one-partition mapInPandas feeds outside operators/sizing.py "
        f"(route through sizing.single_task): {offenders}"
    )


def test_materialize_only_in_sizing():
    offenders = [
        f"{path.relative_to(_PKG)}:{n}"
        for path, src in _package_sources()
        if path.name != "sizing.py"
        for n, line in enumerate(src.splitlines(), 1)
        if _MATERIALIZE.search(line)
    ]
    assert not offenders, (
        f"lineage cuts outside operators/sizing.py "
        f"(route through sizing.materialize): {offenders}"
    )


# ---------------------------------------------------------------------------
# Scoring lint: the served model is built-in expressions, and only training
# and the registry hold an MLlib object
# ---------------------------------------------------------------------------

_ML_IN_PLAN = ("ScalaUDF", "VectorUDT")


def _ml_in_plan(query_execution) -> list[str]:
    plan = query_execution.optimizedPlan().toJSON()
    return [name for name in _ML_IN_PLAN if name in plan]


def test_runbook_predictions_plan_has_no_ml_udf(spark):
    df = registry._REGISTRY["ksql_runbook_predictions"].spark(spark, SF)
    assert not _ml_in_plan(df._jdf.queryExecution())


def test_scored_stream_plan_has_no_ml_udf(spark, tmp_path):
    from pyspark.sql import functions as F

    from streaming_ml_with_ksql_spark.io import load_table
    from streaming_ml_with_ksql_spark.streaming import queries, source

    events = load_table(spark, SF, "events")
    events.write.parquet(str(tmp_path / "events"))
    agg = queries.hopping_window_stream(
        source.stream_parquet_dir(spark, str(tmp_path / "events"))
    )
    features = agg.select(
        "user_id",
        *[F.lit(0).cast("int").alias(c) for c in (
            "views_in_window", "clicks_in_window", "purchases_in_window"
        )],
        F.col("n_events").cast("int").alias("events_in_window"),
    )
    users = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("cust_id"), "c_mktsegment"
    )
    scored = queries.enrich_and_score_stream(
        features, users, dim_key="cust_id", model_name="bot_detector"
    )
    assert "prediction" in scored.columns
    # a stream is optimized per micro-batch: lint the last one's plan
    query = (
        scored.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(300)
    assert not _ml_in_plan(query._jsq.streamingQuery().lastExecution())


# Column names of the masked four-step predict_arrays (a clash rename, the
# validity flag and the unmasked prediction) and of KSQL predict()'s
# placeholder columns.
_PREDICT_SCAFFOLD = re.compile(r"^(__valid|__pred.*|__in_.*)$")


def _plan_names(jplan) -> set[str]:
    names = set()
    for node in _walk(jplan):
        it = node.output().iterator()
        while it.hasNext():
            names.add(it.next().name())
    return names


def test_predict_arrays_is_one_projection(spark):
    """predict_arrays adds one Project over its input whose list is the
    input's columns plus the prediction; no scaffold column appears in it
    or in the runbook's scored plan."""
    from streaming_ml_with_ksql_spark.ml import predict as ml_predict

    df = spark.createDataFrame(
        [(1, "MINE", ["BUILDING"], [0, 0, 0, 1])],
        "id long, c_mktsegment string, s array<string>, i array<int>",
    )
    out = ml_predict.predict_arrays(df, "bot_detector", "s", "i")
    plan = out._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "Project"
    assert plan.child().equals(df._jdf.queryExecution().analyzed())
    projected = plan.projectList()
    kinds = [
        projected.apply(k).getClass().getSimpleName()
        for k in range(projected.size())
    ]
    assert kinds == ["AttributeReference"] * len(df.columns) + ["Alias"]
    assert out.columns == df.columns + ["prediction"]

    runbook = registry._REGISTRY["ksql_runbook_predictions"].spark(spark, SF)
    for jplan in (plan, runbook._jdf.queryExecution().analyzed()):
        scaffold = {n for n in _plan_names(jplan) if _PREDICT_SCAFFOLD.match(n)}
        assert not scaffold, scaffold


def test_runbook_build_py4j_budget(spark):
    """A warm build of the runbook's scored relation is SQL text end to end:
    at most 250 Py4J calls (953 when predict(), the topic bindings and the
    TABLE compaction were built from Column trees)."""
    from scripts.py4j_calls import count_calls

    query = registry.queries()["ksql_runbook_predictions"]
    query(spark, SF).write.format("noop").mode("overwrite").save()
    total, _, _ = count_calls(lambda: query(spark, SF))
    assert total <= 250, total


def test_pipeline_model_only_in_training_and_registry():
    named = [
        str(path.relative_to(_PKG))
        for path, src in _package_sources()
        if "PipelineModel" in src
    ]
    assert sorted(named) == ["ml/registry.py", "ml/train.py"], named
    predict_src = (_PKG / "ml" / "predict.py").read_text()
    assert not re.search(r"^\s*(from|import) pyspark\.ml\b", predict_src, re.M)


# ---------------------------------------------------------------------------
# Set-similarity lint: one exact shingle-overlap count
# ---------------------------------------------------------------------------

# Every function that joins on a shingle column, and why. The doc-pair
# self-join and the candidate verify belong to text._pair_counts alone.
SHINGLE_JOINS = {
    ("operators/text.py", "_pair_counts"): "the one exact pair count",
    ("operators/text.py", "decontaminate"): (
        "corpus x broadcast benchmark shingle set, no doc pairs"
    ),
}


def _shingle_joins():
    found = set()
    for path, src in _package_sources():
        for top in ast.parse(src).body:
            if not isinstance(top, ast.FunctionDef):
                continue
            for node in ast.walk(top):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "join"
                ):
                    continue
                args = node.args + [k.value for k in node.keywords]
                if any(
                    isinstance(c, ast.Constant)
                    and isinstance(c.value, str)
                    and "shingle" in c.value
                    for a in args
                    for c in ast.walk(a)
                ):
                    found.add((str(path.relative_to(_PKG)), top.name))
    return found


def test_shingle_overlap_counted_only_in_pair_counts():
    assert _shingle_joins() == set(SHINGLE_JOINS)


def test_registry_builds_no_shingle_table():
    offenders = [
        str(path.relative_to(_PKG))
        for path, src in _package_sources()
        if path.parent.name == "registry" and "_doc_shingles" in src
    ]
    assert not offenders, (
        f"registry modules building their own shingle table "
        f"(verify through text._pair_counts): {offenders}"
    )
