"""Plan-derived sizing (operators/sizing.py): ``row_bound`` reads a frame's
row bound from its own plan (parquet footer for scan-shaped plans, exact
count for materialized leaves, None otherwise) without executing derived
DAGs; ``fan_out`` sizes CPU-kernel width from it; ``single_task`` is the
one router to a single-task kernel; ``map_rows`` is the one per-row
Python batch loop; ``materialize`` is the one lineage cut."""

from __future__ import annotations

import logging
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from streaming_ml_with_ksql_spark import io as sio
from streaming_ml_with_ksql_spark import registry
from streaming_ml_with_ksql_spark.operators import (
    clustering,
    graph,
    multimodal,
    rank,
    similarity,
    sizing,
    text,
)


@F.udf(LongType())
def _boom(v):
    raise RuntimeError("sizing executed a derived DAG to size it")


def _identity(batches):
    yield from batches


def test_row_bound_reads_parquet_footer(spark, sf_small):
    """Scan, filter, select, aggregate and the left side of a semi join
    all read the documents footer — no Spark job, so a poison pill in the
    plan never detonates."""
    docs = sio.load_table(spark, sf_small, "documents")
    n = docs.count()
    for df in (
        docs,
        docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text"),
        docs.filter(_boom(F.col("doc_id")) > 0),
        docs.groupBy("lang").count(),
        docs.join(docs.select("doc_id").filter(_boom("doc_id") > 0), "doc_id", "left_semi"),
    ):
        assert sizing.row_bound(df) == n
    assert sizing.row_bound(docs.agg(F.count("doc_id"))) == 1


def test_row_bound_of_a_schema_memo_hit_reads_the_footer(spark, sf_small, tmp_path, caplog):
    """A repeat load reads with io's memoized schema instead of inferring
    it; its frame is bounded by the same footer count as the first."""
    shutil.copy(f"{sf_small}/events.parquet", tmp_path / "events.parquet")
    n = pq.read_metadata(tmp_path / "events.parquet").num_rows
    with caplog.at_level(logging.INFO, logger=sio.__name__):
        miss = sio.load_table(spark, str(tmp_path), "events")
        assert "load_table infer" in caplog.text
        caplog.clear()
        hit = sio.load_table(spark, str(tmp_path), "events")
        assert "load_table infer" not in caplog.text
    assert sizing.row_bound(miss) == sizing.row_bound(hit) == n


def test_row_bound_none_when_rows_can_grow(spark, sf_small):
    docs = sio.load_table(spark, sf_small, "documents")
    assert sizing.row_bound(docs.select(F.explode(F.split("text", " ")))) is None
    assert sizing.row_bound(docs.join(docs.select("doc_id"), "doc_id")) is None
    assert sizing.row_bound(docs.select("doc_id").mapInPandas(_identity, "doc_id long")) is None
    assert sizing.row_bound(docs.union(docs)) is None


def test_row_bound_counts_materialized_leaves(spark):
    local = spark.createDataFrame(pd.DataFrame({"a": range(7)}))
    assert sizing.row_bound(local) == 7
    ckpt = spark.range(40).filter(F.col("id") % 2 == 0).localCheckpoint(eager=True)
    assert sizing.row_bound(ckpt) == 20
    assert sizing.row_bound(ckpt.filter(F.col("id") < 10)) == 5
    assert sizing.row_bound(spark.range(100)) == 100


def test_fan_out_clamps_small_frames(spark, caplog):
    df = spark.range(100)
    n_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with caplog.at_level(logging.INFO, logger=sizing.__name__):
        assert sizing.fan_out(df, rows_per_task=50).rdd.getNumPartitions() == 2
    assert f"fan_out width=2 rows=100 rows_per_task=50 max={n_max}" in caplog.text
    assert sizing.fan_out(df, rows_per_task=1).rdd.getNumPartitions() == n_max
    assert sizing.fan_out(df, rows_per_task=10**6).rdd.getNumPartitions() == 1


def test_fan_out_sizes_from_row_bound(spark, sf_small):
    """A filtered scan keeps the footer row count as its (over)estimate —
    the safe direction, since an overestimate only adds partitions."""
    docs = sio.load_table(spark, sf_small, "documents")
    n_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
    narrow = docs.filter(F.col("doc_id") < 0).select("doc_id")
    width = sizing.fan_out(narrow, rows_per_task=100).rdd.getNumPartitions()
    assert width == min(n_max, -(-docs.count() // 100))


def test_cheap_codec_narrow_heavy_codec_wide(spark, sf_small):
    """The per-codec weights: WAV synthesis (cheap PCM write) fans out
    narrower than JPEG synthesis (DCT+Huffman) on the same 500-doc frame."""
    docs = sio.load_table(spark, sf_small, "documents")
    n_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wav = multimodal.synthesize_payload(docs, "audio/wav")
    jpg = multimodal.synthesize_payload(docs, "image/jpeg")
    n_wav = wav.rdd.getNumPartitions()
    n_jpg = jpg.rdd.getNumPartitions()
    assert n_wav == 1  # 500 rows / 1024 rows-per-task
    assert n_jpg == min(n_max, 8)  # 500 rows / 64 rows-per-task
    # results are fan-out-invariant: same decode output either way
    a = sorted(
        (r.doc_id, r.n_samples)
        for r in multimodal.decode_audio(wav).select("doc_id", "n_samples").collect()
    )
    b = sorted(
        (r.doc_id, r.n_samples)
        for r in multimodal.decode_audio(
            multimodal.synthesize_payload(docs.repartition(16), "audio/wav")
        )
        .select("doc_id", "n_samples")
        .collect()
    )
    assert a == b and len(a) == 500


def test_fan_out_never_counts_derived_lineage(spark):
    """A frame whose lineage can add rows (a join) must NOT be sized by
    count() — that re-executes the whole upstream DAG once per fan-out
    (ADVICE r5: corpus_curation_pipeline re-ran its clean+decontaminate
    join DAG inside bpe_tokenize). Such frames keep the full configured
    width; the proof that no count ran is a poison pill that would make
    any job over the frame fail."""
    n_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = spark.range(50).select(F.col("id"), _boom(F.col("id")).alias("x"))
    b = spark.range(50).withColumnRenamed("id", "id2")
    derived = a.join(b, a.id == b.id2).groupBy("id").count()
    assert sizing.row_bound(derived) is None
    out = sizing.fan_out(derived, rows_per_task=10)
    assert out.rdd.getNumPartitions() == n_max


def test_cogroup_lineage_is_expensive(spark):
    """FlatMapCoGroupsInPandas (cogroup applyInPandas — the pq_search /
    ivfpq_search query side) has no bound: counting it would re-execute
    its Python DAG (ADVICE r6)."""
    a = spark.range(10).withColumn("k", F.lit(1))
    b = spark.range(5).withColumn("k", F.lit(1))

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"n": [len(left) + len(right)]})

    co = a.groupBy("k").cogroup(b.groupBy("k")).applyInPandas(
        merge, schema="n long"
    )
    assert sizing.row_bound(co) is None


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_single_task_routes_and_feeds(spark, sf_small, caplog):
    docs = sio.load_table(spark, sf_small, "documents").select("doc_id")
    kw = dict(kernel=_identity, schema="doc_id long", name="probe")
    with caplog.at_level(logging.INFO, logger=sizing.__name__):
        lazy = sizing.single_task(docs, max_rows=10**6, **kw)
    assert "name=probe path=kernel rows=500 bound=1000000 reason=size" in caplog.text
    # a lazy scan is fed by a round-robin exchange, keeping the scan parallel
    assert "Repartition 1, true" in _plan(lazy)
    assert lazy.rdd.getNumPartitions() == 1 and lazy.count() == 500
    # a materialized frame is coalesced: no exchange at all
    ckpt = docs.localCheckpoint(eager=True)
    fed = sizing.single_task(ckpt, max_rows=10**6, **kw)
    assert "Repartition 1, false" in _plan(fed)
    # size, requirement and bound decide, and nothing else
    assert sizing.single_task(docs, max_rows=500, **kw) is None
    assert sizing.single_task(docs, max_rows=10**6, requires=False, **kw) is None
    joined = docs.join(docs, "doc_id")
    assert sizing.single_task(joined, max_rows=10**6, **kw) is None
    assert sizing.single_task(joined, max_rows=10, rows=3, **kw) is not None


def _probe_row(id, label, score, **_):
    """Reports what it was handed; returns its keys out of schema order."""
    return {
        "seen": f"{type(label).__name__}:{label}|{type(score).__name__}:{score}",
        "maybe": None if label is None else len(label),
        "id": id,
    }


def test_map_rows_hands_plain_values_and_orders_by_schema(spark):
    df = spark.createDataFrame(
        [(1, "ab", 0.5, 9), (2, None, None, 9), (3, "xyz", 2.0, 9)],
        "id long, label string, score double, extra int",
    )
    out = sizing.map_rows(df, _probe_row, "id long, maybe int, seen string")
    assert out.columns == ["id", "maybe", "seen"]
    rows = sorted(out.collect())
    assert [tuple(r) for r in rows] == [
        (1, 2, "str:ab|float:0.5"),
        (2, None, "NoneType:None|NoneType:None"),
        (3, 3, "str:xyz|float:2.0"),
    ]


def test_map_rows_declared_int_with_nulls_round_trips(spark):
    """An int column whose batch mixes ints and None (pandas makes it
    float NaN) lands as the declared int with nulls in place."""
    df = spark.range(6).repartition(1)
    out = sizing.map_rows(
        df,
        lambda id: {"id": id, "half": None if id % 2 else id // 2},
        "id long, half int",
    )
    assert out.schema["half"].dataType.simpleString() == "int"
    assert sorted(tuple(r) for r in out.collect()) == [
        (0, 0), (1, None), (2, 1), (3, None), (4, 2), (5, None),
    ]


def _twice(id):
    return {"id": 2 * id}


def test_map_rows_plan_names_the_row_function(spark):
    out = sizing.map_rows(spark.range(3), _twice, "id long")
    assert "MapInPandas _twice(" in _plan(out)
    assert sorted(r.id for r in out.collect()) == [0, 2, 4]


def _group_jobs(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_materialize_is_a_counted_leaf(spark):
    """The result is a checkpoint leaf: row_bound counts it exactly and
    single_task coalesces it instead of adding an exchange."""
    df = sizing.materialize(spark.range(40).filter(F.col("id") % 2 == 0), "probe")
    leaf = df._jdf.queryExecution().analyzed()
    assert leaf.getClass().getSimpleName() == "LogicalRDD"
    assert sizing.row_bound(df) == 20
    fed = sizing.single_task(
        df, _identity, "id long", name="probe", max_rows=10**6
    )
    assert "Repartition 1, false" in _plan(fed)


def test_materialize_lazy_runs_no_job_until_action(spark):
    """An exchange-free frame runs nothing until it is read (a frame with
    a shuffle would still run its shuffle stage under adaptive
    execution)."""
    sc = spark.sparkContext
    sc.setJobGroup("materialize-lazy", "lazy materialize probe")
    try:
        df = sizing.materialize(spark.range(100).filter(F.col("id") > 9), "lazy", eager=False)
        assert _group_jobs(sc, "materialize-lazy") == []
        assert df.count() == 90
        assert _group_jobs(sc, "materialize-lazy")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_materialize_names_its_job_and_restores_the_description(spark, caplog):
    sc = spark.sparkContext
    sc.setJobGroup("materialize-eager", "caller description")
    try:
        with caplog.at_level(logging.INFO, logger=sizing.__name__):
            sizing.materialize(spark.range(10), "probe edges")
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        (job,) = _group_jobs(sc, "materialize-eager")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert "materialize why=probe edges eager=True s=" in caplog.text
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + 30
    while True:  # the status store is filled by the async listener bus
        try:
            desc = store.job(job).description()
            break
        except Py4JJavaError:  # not recorded yet
            if time.monotonic() > deadline:
                raise
            time.sleep(0.1)
    assert desc.get() == "materialize:probe edges"


def test_queries_leave_the_cache_manager_empty(spark, sf_small):
    """Intra-query reuse is a local checkpoint, never a CacheManager
    entry that only clearCache would release."""
    from bench import _run

    spark.catalog.clearCache()
    qs = registry.queries()
    for name in ("corpus_curation_pipeline", "ngram_lm_score"):
        _run(qs[name](spark, sf_small))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# One registry query per single-task kernel, with the module constants
# that bound it (dbscan's distributed twin calls connected_components,
# whose own kernel must be disabled too). Each kernel's MapInPandas is
# visible in its query's own plan.
GATED_QUERIES = [
    ("minhash_near_dup_pairs", [(text, "MINHASH_SINGLE_TASK_MAX_DOCS")]),
    ("ngram_jaccard_pairs", [(text, "NGRAM_PAIRS_SINGLE_TASK_MAX_DOCS")]),
    ("dedup_components", [(graph, "CC_SINGLE_TASK_MAX_EDGES")]),
    ("pagerank_near_dup", [(graph, "ITER_SINGLE_TASK_MAX_EDGES")]),
    ("bfs_hops_near_dup", [(graph, "ITER_SINGLE_TASK_MAX_EDGES")]),
    ("hits_customer_part", [(graph, "ITER_SINGLE_TASK_MAX_EDGES")]),
    ("kmeans_embedding_clusters", [(clustering, "KMEANS_SINGLE_TASK_MAX_CELLS")]),
    (
        "dbscan_embedding_clusters",
        [
            (clustering, "DBSCAN_SINGLE_TASK_MAX_ROWS"),
            (graph, "CC_SINGLE_TASK_MAX_EDGES"),
        ],
    ),
    ("customer_rfm_segments", [(rank, "NTILE_SINGLE_TASK_MAX_ROWS")]),
    ("mmr_diverse_retrieval", [(similarity, "MMR_SINGLE_TASK_MAX_ROWS")]),
]


@pytest.mark.parametrize(
    "name,bounds", GATED_QUERIES, ids=[q for q, _ in GATED_QUERIES]
)
def test_gated_query_routes_by_size(spark, sf_medium, monkeypatch, name, bounds):
    """Small inputs reach the kernel with no hint or switch from the
    caller; the same query with that kernel's bound at 0 runs its
    distributed twin."""
    build = registry._REGISTRY[name].spark
    assert "MapInPandas" in _plan(build(spark, sf_medium))
    for module, constant in bounds:
        monkeypatch.setattr(module, constant, 0)
    assert "MapInPandas" not in _plan(build(spark, sf_medium))
