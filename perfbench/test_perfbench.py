"""Tests of the benchmark itself: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import lib  # noqa: E402
import run  # noqa: E402

SHAPE = gen.StreamShape(users=50, files=4, events_per_file=200, slice_s=20, late_events=30)


def _bytes(tmp_path, table, name):
    path = os.path.join(tmp_path, name)
    gen.write_table(table, path)
    with open(path, "rb") as fh:
        return fh.read()


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    for make in (lambda s: gen.event_file(SHAPE, s, 2),
                 lambda s: gen.late_file(SHAPE, s),
                 lambda s: gen.users_table(SHAPE, s)):
        a = _bytes(tmp_path, make(7), "a.parquet")
        b = _bytes(tmp_path, make(7), "b.parquet")
        c = _bytes(tmp_path, make(8), "c.parquet")
        assert a == b
        assert a != c


def test_generator_disorder_is_bounded_and_late_sliver_is_a_day_late():
    files = [gen.event_file(SHAPE, 3, i) for i in range(SHAPE.files)]
    newest = 0
    for t in files:
        ts = t.column("ts").cast("int64").to_numpy()
        # on time: never further behind the newest earlier event than the
        # disorder bound, which is below the 2-minute watermark delay
        assert ts.min() >= newest - SHAPE.disorder_s * 1_000_000
        newest = max(newest, ts.max())
    late = gen.late_file(SHAPE, 3).column("ts").cast("int64").to_numpy()
    assert late.max() <= newest - gen.DAY_US
    ids = [i for t in files for i in t.column("event_id").to_pylist()]
    ids += gen.late_file(SHAPE, 3).column("event_id").to_pylist()
    assert len(ids) == len(set(ids))
    assert set(t for f in files for t in f.column("event").to_pylist()) <= set(gen.EVENTS)


def test_consumed_files_maps_source_batches_past_no_data_batches(tmp_path):
    import serve

    # micro-batch 1 is a no-data batch, so source batch k runs in micro-batch k + 1
    offsets, log = tmp_path / "offsets", tmp_path / "sources" / "0"
    offsets.mkdir()
    log.mkdir(parents=True)
    for b, end in enumerate([0, 0, 1, 2, 2]):
        (offsets / str(b)).write_text(f'v1\n{{"batchWatermarkMs":0}}\n{{"logOffset":{end}}}')
    for k, names in enumerate([["a", "b"], ["c"], ["d", "e"], ["f"]]):
        lines = [json.dumps({"path": f"file:///in/{n}", "batchId": k}) for n in names]
        (log / str(k)).write_text("v1\n" + "\n".join(lines))
    assert serve.consumed_files(str(tmp_path)) == {"a": 0, "b": 0, "c": 2, "d": 3, "e": 3}


def test_load_check_flags_a_growing_backlog_and_a_lagging_generator():
    import serve

    lat = [1000.0] * 120
    assert serve._invalid_load(lat, [5.0] * 120, [12, 14, 13, 15, 13, 12]) is None
    assert "backlog" in serve._invalid_load(lat, [5.0] * 120, [4, 8, 12, 16, 20, 24])
    assert "lag" in serve._invalid_load(lat, [300.0] * 120, [12, 14, 13, 15, 13, 12])


def test_percentile_refuses_a_thin_tail():
    assert lib.percentile(list(range(1, 101)), 0.9) == 90
    with pytest.raises(ValueError):
        lib.percentile(list(range(1, 100)), 0.9)
    with pytest.raises(ValueError):
        lib.percentile(list(range(1, 19)), 0.5)


def test_every_metric_name_is_valid_carries_a_unit_and_is_declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for table, declared in ((run.END_TO_END, spec["end_to_end"]),
                            (run.per_layer_units(), spec["per_layer"])):
        for name, unit in table.items():
            assert lib.NAME_RE.match(name), name
            assert lib.UNIT_RE.match(unit), (name, unit)
        assert {m["name"]: m["unit"] for m in declared} == table
    assert [w["name"] for w in spec["workloads"]] == ["serve_steady", "query_batch"]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_digest_flags_a_one_row_mutation(spark):
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v"), F.col("id").cast("string").alias("s")
    )
    base = lib.digest(df)
    assert base == lib.digest(df.orderBy(F.desc("id")))  # order-independent
    changed = df.withColumn("v", F.when(F.col("id") == 57, F.col("v") + 1).otherwise(F.col("v")))
    assert lib.digest(changed) != base
    dropped = df.filter(F.col("id") != 57)
    assert lib.digest(dropped) != base
    swapped = df.withColumn("s", F.when(F.col("id") == 57, F.lit("x")).otherwise(F.col("s")))
    assert lib.digest(swapped)[1] != base[1]
