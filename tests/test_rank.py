"""operators.rank — distributed global row numbers / NTILE must equal
Spark's own single-partition window results exactly, including every
uneven-bucket edge (n % tiles != 0, fewer rows than tiles, one row)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from streaming_ml_with_ksql_spark.operators import rank
from tests.routes import kernel_and_distributed


def _frame(spark, n: int):
    # deterministic pseudo-random values with heavy ties on v; id breaks them
    return spark.range(n).select(
        F.col("id"),
        (F.crc32(F.col("id").cast("string")) % 7).alias("v"),
    )


def test_global_row_number_matches_window(spark):
    for n in (1, 3, 23, 1000):
        df = _frame(spark, n)
        got = rank.global_row_number(
            df, [F.col("v").asc(), F.col("id").asc()], out_col="grn"
        )
        w = Window.partitionBy(F.lit(0)).orderBy(F.col("v").asc(), F.col("id").asc())
        want = df.withColumn("grn", F.row_number().over(w).cast("long"))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"n={n}"


def test_parallel_ntile_matches_window_ntile(spark):
    for n in (1, 3, 4, 5, 23, 101, 1000):
        for tiles in (5, 7):
            df = _frame(spark, n)
            got = rank.parallel_ntile(
                df, tiles, [F.col("v").desc(), F.col("id").asc()], "t"
            )
            w = Window.partitionBy(F.lit(0)).orderBy(
                F.col("v").desc(), F.col("id").asc()
            )
            want = df.withColumn("t", F.ntile(tiles).over(w).cast("int"))
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, want.collect())
            ), f"n={n} tiles={tiles}"


def test_rank_plans_have_no_partitionless_window(spark):
    """The whole point: no WindowExec without a partition spec anywhere
    in the physical plan — ranking is range-shuffle + broadcast joins."""
    df = _frame(spark, 500)
    out = rank.parallel_ntile(df, 5, [F.col("v").asc(), F.col("id").asc()], "t")
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ntile_scores_single_task_matches_parallel_ntile(spark, monkeypatch):
    """r14 fast path: the one-Arrow-task multi-spec NTILE kernel must
    reproduce the distributed parallel_ntile pass-for-pass (same exact
    integer bucket arithmetic over the same total order), including
    descending float keys and totals not divisible by the tile count."""
    rows = [
        (i, float(((i * 37) % 101) - 50) / 7.0, (i * 13) % 23)
        for i in range(503)
    ]
    df = spark.createDataFrame(
        rows, "id long, v double, f long"
    ).localCheckpoint(eager=True)
    specs = [
        ("a_t", [("v", "desc"), ("id", "asc")]),
        ("b_t", [("f", "asc"), ("id", "asc")]),
    ]
    fast, routed = kernel_and_distributed(
        monkeypatch,
        [(rank, "NTILE_SINGLE_TASK_MAX_ROWS")],
        lambda: rank.ntile_scores(df, 5, specs),
    )
    slow = rank.parallel_ntile(
        df, 5, [F.col("v").desc(), F.col("id").asc()], "a_t"
    )
    slow = rank.parallel_ntile(
        slow, 5, [F.col("f").asc(), F.col("id").asc()], "b_t"
    )
    cols = ["id", "v", "f", "a_t", "b_t"]
    expected = sorted(map(tuple, slow.select(cols).collect()))
    assert sorted(map(tuple, fast.select(cols).collect())) == expected
    # ntile_scores' own distributed route is the same parallel_ntile chain
    assert sorted(map(tuple, routed.select(cols).collect())) == expected
