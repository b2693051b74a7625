"""The scan edge's schema memo (io.py): a repeat ``load_table`` of an
unchanged file reads with the schema Spark inferred the first time, so it
runs no Spark job and plans exactly like the inferred read; a rewritten
file, a changed inference conf or a directory path goes back to
inference."""

from __future__ import annotations

import logging
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from streaming_ml_with_ksql_spark import io as sio


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, counted under a fresh
    job group once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"io-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "io memo probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _executed(df) -> str:
    """The executed plan with expression ids blanked out."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?", "#", plan)


def _copy(src_dir: str, dst, name: str) -> str:
    shutil.copy(f"{src_dir}/{name}.parquet", dst / f"{name}.parquet")
    return str(dst)


def test_repeat_load_runs_no_spark_job(spark, sf_medium, tmp_path, caplog):
    """The first load infers (one job, one log line with the path and its
    seconds); the second reads with the memoized schema: no job, silent."""
    d = _copy(sf_medium, tmp_path, "customer")
    with caplog.at_level(logging.INFO, logger=sio.__name__):
        _, miss_jobs = _jobs(spark, lambda: sio.load_table(spark, d, "customer"))
        assert f"load_table infer path={d}/customer.parquet s=" in caplog.text
        caplog.clear()
        _, hit_jobs = _jobs(spark, lambda: sio.load_table(spark, d, "customer"))
    assert miss_jobs >= 1
    assert hit_jobs == 0
    assert "load_table infer" not in caplog.text


@pytest.mark.parametrize("name", sio.TABLES)
def test_hit_plans_like_inference(spark, sf_medium, tmp_path, name):
    """For every testdata table, the memo-hit frame has the inferred
    frame's schema and, up to expression ids, its executed plan."""
    d = _copy(sf_medium, tmp_path, name)
    miss, miss_jobs = _jobs(spark, lambda: sio.load_table(spark, d, name))
    hit, hit_jobs = _jobs(spark, lambda: sio.load_table(spark, d, name))
    assert (miss_jobs >= 1, hit_jobs) == (True, 0)
    assert hit.schema == miss.schema
    assert _executed(hit) == _executed(miss)


def test_rewritten_file_is_reinferred(spark, tmp_path):
    """A file rewritten in place with other columns is read with its new
    schema on the next load."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    first = sio.load_table(spark, str(tmp_path), "t")
    assert first.columns == ["a", "b"]
    pq.write_table(pa.table({"a": [3], "c": [1.5], "d": [True]}), path)
    again = sio.load_table(spark, str(tmp_path), "t")
    assert again.columns == ["a", "c", "d"]
    assert [tuple(r) for r in again.collect()] == [(3, 1.5, True)]


def test_inference_conf_change_is_seen(spark, tmp_path):
    """``spark.sql.parquet.binaryAsString`` changes what inference returns
    for a binary column, so it changes the schema a load returns."""
    pq.write_table(pa.table({"k": [1], "v": pa.array([b"ab"], pa.binary())}), tmp_path / "b.parquet")
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    assert dict(sio.load_table(spark, str(tmp_path), "b").dtypes)["v"] == "binary"
    spark.conf.set(key, "true")
    try:
        got = sio.load_table(spark, str(tmp_path), "b")
        assert dict(got.dtypes)["v"] == "string"
        assert got.first().v == "ab"
    finally:
        spark.conf.set(key, before)
    assert dict(sio.load_table(spark, str(tmp_path), "b").dtypes)["v"] == "binary"


def test_directory_path_loads_by_inference(spark, tmp_path, caplog):
    """A Spark-written table directory is not memoized: every load infers
    (a job and a log line each time) and reads the data."""
    spark.range(5).selectExpr("id", "id * 2 AS twice").write.parquet(
        str(tmp_path / "dir.parquet")
    )
    with caplog.at_level(logging.INFO, logger=sio.__name__):
        for _ in range(2):
            caplog.clear()
            df, jobs = _jobs(spark, lambda: sio.load_table(spark, str(tmp_path), "dir"))
            assert jobs >= 1
            assert f"load_table infer path={tmp_path}/dir.parquet s=" in caplog.text
    assert sorted(r.twice for r in df.collect()) == [0, 2, 4, 6, 8]
