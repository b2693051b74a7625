"""Round-7 continuation tests: BFS landmark distances and the clamped
running balance — semantic properties beyond the oracle hash (which
scripts/verify_driver.py covers)."""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_ml_with_ksql_spark import io as io_mod
from streaming_ml_with_ksql_spark.operators import graph as graph_ops
from tests.routes import kernel_and_distributed


def test_bfs_hops_path_graph_distances(spark):
    """On a path 0-1-2-...-7 with the single seed 0 (seed_mod large so
    only node 0 qualifies), hop distances must be the exact path index,
    NULL beyond the iteration horizon."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a long, doc_b long"
    )
    d = {
        r["node"]: r["d"]
        for r in graph_ops.bfs_hops(path, seed_mod=1000, iters=4).collect()
    }
    for i in range(5):
        assert d[i] == i
    for i in range(5, 8):
        assert d[i] is None


def test_bfs_hops_multi_source_takes_nearest_seed(spark):
    """Two seeds (0 and 10) on the path 0-1-...-10: every vertex labels
    with the NEARER seed; the midpoint (5 hops from both) sits beyond
    the 4-round horizon and stays NULL."""
    edges = [(i, i + 1) for i in range(10)]  # path 0..10
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    d = {
        r["node"]: r["d"]
        for r in graph_ops.bfs_hops(df, seed_mod=10, iters=4).collect()
    }
    expect = {i: min(i, 10 - i) for i in range(11)}
    for i, e in expect.items():
        assert d[i] == (e if e <= 4 else None)


def test_bfs_hops_partitioning_invariant(spark):
    """Min-propagation over integers: distances must be identical under
    any input partitioning."""
    edges = [(a, b) for a in range(12) for b in range(a + 1, 12) if (a * b) % 5 == 1]
    df1 = spark.createDataFrame(edges, "doc_a long, doc_b long")
    df2 = df1.repartition(7)
    r1 = sorted(
        (r["node"], r["d"])
        for r in graph_ops.bfs_hops(df1, seed_mod=3, iters=4).collect()
    )
    r2 = sorted(
        (r["node"], r["d"])
        for r in graph_ops.bfs_hops(df2, seed_mod=3, iters=4).collect()
    )
    assert r1 == r2


def test_clamped_balance_equals_sequential_fold(spark, sf_small):
    """The prefix-min identity must reproduce the sequential recurrence
    b_t = max(0, b_{t-1} + d_t) exactly, per user."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    out = {
        r["user_id"]: (r["n_tx_d"], r["peak_micro_d"], r["clamp_hits_d"])
        for r in _REGISTRY["clamped_running_balance"].spark(spark, sf_small).collect()
    }

    ev = (
        io_mod.load_table(spark, sf_small, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    import math

    expect = {}
    for uid, g in ev.groupby("user_id"):
        bal, peak, hits, n = 0, 0, 0, 0
        for _, row in g.iterrows():
            dv = int(math.floor(row["value"] * 1000000.0))
            if row["event_type"] == "error":
                dv = -dv
            elif row["event_type"] != "purchase":
                dv = 0
            nxt = bal + dv
            if nxt < 0:
                nxt = 0
            if nxt == 0 and dv < 0:
                hits += 1
            bal = nxt
            peak = max(peak, bal)
            n += 1
        expect[uid] = (float(n), float(peak), float(hits))
    assert out == expect


def test_kmeans_fixed_point_partitioning_invariant(spark, sf_small):
    """Integer fixed point: assignments and inertia must be
    bit-identical under any input partitioning (the property float
    k-means lacks)."""
    from streaming_ml_with_ksql_spark.operators import clustering

    emb = io_mod.load_table(spark, sf_small, "embeddings")
    r1 = sorted(
        (r["vec_id"], r["cid"], r["dist"])
        for r in clustering.kmeans_fixed_point(emb, k=5, iters=2).collect()
    )
    r2 = sorted(
        (r["vec_id"], r["cid"], r["dist"])
        for r in clustering.kmeans_fixed_point(
            emb.repartition(13), k=5, iters=2
        ).collect()
    )
    assert r1 == r2


def test_kmeans_inertia_nonincreasing(spark, sf_small):
    """Lloyd's invariant: total inertia must not increase with more
    iterations (up to the bounded perturbation integer truncation of
    centroid means can introduce — allow zero slack here and assert the
    strict Lloyd descent actually holds on this data)."""
    from streaming_ml_with_ksql_spark.operators import clustering

    emb = io_mod.load_table(spark, sf_small, "embeddings")
    inert = []
    for it in (1, 2, 3):
        asg = clustering.kmeans_fixed_point(emb, k=8, iters=it)
        inert.append(asg.agg(F.sum("dist")).collect()[0][0])
    assert inert[0] >= inert[1] >= inert[2]


def test_kmeans_every_point_assigned_once(spark, sf_small):
    from streaming_ml_with_ksql_spark.operators import clustering

    emb = io_mod.load_table(spark, sf_small, "embeddings")
    asg = clustering.kmeans_fixed_point(emb, k=10, iters=3)
    assert asg.count() == emb.count()
    assert asg.select("vec_id").distinct().count() == emb.count()


def test_isotonic_fit_equals_exact_pava(spark, sf_small):
    """The minimax identity must reproduce sequential
    pool-adjacent-violators run in exact rational arithmetic."""
    from fractions import Fraction
    import math

    from streaming_ml_with_ksql_spark.operators import timeseries as ts_ops

    ev = io_mod.load_table(spark, sf_small, "events")
    out = ts_ops.isotonic_daily_fit(ev).collect()
    got = {int(r["day_idx_d"]): r["iso_micro_d"] for r in out}

    pdf = ev.select(F.to_date("ts").alias("day"), "value").toPandas()
    pdf["y"] = pdf["value"].map(lambda v: int(math.floor(v * 1000000.0)))
    daily = pdf.groupby("day")["y"].sum().sort_index()
    ys = [int(v) for v in daily.values]
    # PAVA with Fractions: pools of (sum, count)
    pools = []
    for y in ys:
        pools.append([y, 1])
        while len(pools) > 1 and Fraction(pools[-2][0], pools[-2][1]) > Fraction(
            pools[-1][0], pools[-1][1]
        ):
            s, c = pools.pop()
            pools[-1][0] += s
            pools[-1][1] += c
    fit = []
    for s, c in pools:
        fit.extend([Fraction(s, c)] * c)
    expect = {i: float(math.floor(f)) for i, f in enumerate(fit)}
    assert got == expect


def test_isotonic_fit_is_monotone(spark, sf_small):
    from streaming_ml_with_ksql_spark.operators import timeseries as ts_ops

    ev = io_mod.load_table(spark, sf_small, "events")
    rows = ts_ops.isotonic_daily_fit(ev).collect()
    fits = [r["iso_micro_d"] for r in sorted(rows, key=lambda r: r["day_idx_d"])]
    assert all(a <= b for a, b in zip(fits, fits[1:]))


def test_streaming_wallet_equals_batch(spark, sf_small):
    """batch≡stream: the drained wallet state machine's summary must
    equal the batch prefix-min identity row for row."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    streamed = _REGISTRY["streaming_wallet_balance"].spark(spark, sf_small)
    batch = _REGISTRY["clamped_running_balance"].spark(spark, sf_small)
    cols = ["user_id", "n_tx_d", "peak_micro_d", "clamp_hits_d"]
    assert streamed.select(cols).exceptAll(batch.select(cols)).isEmpty()
    assert batch.select(cols).exceptAll(streamed.select(cols)).isEmpty()


def test_wallet_state_machine_scrambled_within_batch(spark):
    """In-batch (ts, order) sorting: feeding one batch with shuffled row
    order must fold in event order — peak/hits are order-sensitive, so a
    wrong fold order would change them."""
    from datetime import datetime

    from streaming_ml_with_ksql_spark.streaming import stateful

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 3), 3, -500),
        (1, datetime(2024, 1, 1, 0, 0, 1), 1, 300),
        (1, datetime(2024, 1, 1, 0, 0, 2), 2, 200),
    ]
    src = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, dv long"
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        srcdir = os.path.join(tmp, "in")
        src.repartition(1).write.parquet(srcdir)
        stream = spark.readStream.schema(src.schema).parquet(srcdir)
        out = stateful.wallet_balance_stream(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("wallet_scramble_t")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM wallet_scramble_t").collect()
    assert len(got) == 1
    r = got[0]
    # ordered fold: 300 -> 500 -> clamp(-500) = 0 : peak 500, one hit
    assert r["n_tx"] == 3 and r["peak"] == 500 and r["clamp_hits"] == 1


def test_link_prediction_scores_hand_graph(spark, sf_small):
    """Predicted pairs must be genuine non-edges, and on the real data
    every reported score must equal the direct recomputation from the
    co-purchase graph."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    out = _REGISTRY["link_prediction_copurchase"].spark(spark, sf_small).collect()
    assert 0 < len(out) <= 20

    li = (
        io_mod.load_table(spark, sf_small, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    from collections import defaultdict

    baskets = defaultdict(set)
    for _, r in li.iterrows():
        baskets[r["l_orderkey"]].add(int(r["l_partkey"]))
    adj = defaultdict(set)
    for parts in baskets.values():
        ps = sorted(parts)
        for i, x in enumerate(ps):
            for y in ps[i + 1 :]:
                adj[x].add(y)
                adj[y].add(x)
    for r in out:
        a, b = int(r["part_a"]), int(r["part_b"])
        assert b not in adj[a], (a, b)
        mids = [m for m in adj[a] & adj[b] if len(adj[m]) <= 50]
        assert r["common_neighbors_d"] == float(len(mids))
        assert r["score_ppm_d"] == float(sum(1000000 // len(adj[m]) for m in mids))


def test_seasonal_decompose_reconstructs_and_centers(spark, sf_small):
    """trend + seasonal + residual must reconstruct y exactly (integer
    identity), and a planted weekly pattern must land in the seasonal
    component."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["seasonal_decompose_daily"].spark(spark, sf_small).collect()
    assert len(rows) > 0
    for r in rows:
        assert (
            r["trend_micro_d"] + r["seasonal_micro_d"] + r["resid_micro_d"]
            == r["y_micro_d"]
        )
    # same weekday slot -> same seasonal index
    from collections import defaultdict

    byw = defaultdict(set)
    for r in rows:
        byw[int(r["day_idx_d"]) % 7].add(r["seasonal_micro_d"])
    assert all(len(v) == 1 for v in byw.values())


def test_twap_weighted_mean_matches_pandas(spark, sf_small):
    """The TWAP must equal the direct per-user weighted computation."""
    import math

    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    out = {
        int(r["user_id"]): (r["n_intervals_d"], r["span_ms_d"], r["twap_milli_d"])
        for r in _REGISTRY["twap_user_value"].spark(spark, sf_small).collect()
    }
    pdf = (
        io_mod.load_table(spark, sf_small, "events")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    for uid, g in pdf.groupby("user_id"):
        vs = [int(math.floor(v * 1000.0)) for v in g["value"]]
        us = [int(t.value // 1000) for t in g["ts"]]
        gaps = [(us[i + 1] - us[i]) // 1000 for i in range(len(us) - 1)]
        num = sum(v * w for v, w in zip(vs, gaps))
        den = sum(gaps)
        assert out[uid] == (float(len(gaps)), float(den), float(num // den))


def test_cdc_delta_agg_full_lifecycle(spark):
    """insert -> update -> delete -> re-insert folded through the delta
    machine must net to the final-state aggregate (one live row at its
    last value), with the old value correctly recovered from state."""
    from datetime import datetime

    from streaming_ml_with_ksql_spark.streaming import stateful

    rows = [
        (5, datetime(2024, 1, 1, 0, 0, 1), "r", 1000),
        (5, datetime(2024, 1, 1, 0, 0, 2), "u", 2500),
        (5, datetime(2024, 1, 1, 0, 0, 3), "d", 2500),
        (5, datetime(2024, 1, 1, 0, 0, 4), "c", 400),
        (9, datetime(2024, 1, 1, 0, 0, 1), "r", 700),
        (9, datetime(2024, 1, 1, 0, 0, 2), "d", 700),
    ]
    src = spark.createDataFrame(
        rows, "c_custkey long, ts timestamp, __op string, cents long"
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        srcdir = os.path.join(tmp, "in")
        src.repartition(1).write.parquet(srcdir)
        stream = spark.readStream.schema(src.schema).parquet(srcdir)
        out = stateful.cdc_delta_agg_stream(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("cdc_delta_t")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT sum(d_n) AS n, sum(d_sum) AS s FROM cdc_delta_t"
        ).collect()[0]
    assert got["n"] == 1 and got["s"] == 400


def test_seasonal_anomaly_flags_match_mad_rule(spark, sf_small):
    """Flagged days must be exactly those whose residual deviates more
    than 2 exact MADs from the residual median (statistics module as
    the independent reference)."""
    import statistics

    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    dec = _REGISTRY["seasonal_decompose_daily"].spark(spark, sf_small).collect()
    resid = {int(r["day_idx_d"]): int(r["resid_micro_d"]) for r in dec}
    med = statistics.median(resid.values())
    mad = statistics.median(abs(v - med) for v in resid.values())
    expect = {t for t, v in resid.items() if abs(v - med) > 2 * mad}

    out = _REGISTRY["seasonal_anomaly_days"].spark(spark, sf_small).collect()
    assert {int(r["day_idx_d"]) for r in out} == expect


def test_bootstrap_ci_brackets_point_and_matches_python(spark, sf_small):
    """The CI must bracket plausible totals and equal an independent
    Python replay of the md5 resampling."""
    import hashlib
    import math

    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    r = _REGISTRY["bootstrap_revenue_ci"].spark(spark, sf_small).collect()[0]
    assert r["ci_lo_micro_d"] <= r["ci_hi_micro_d"]

    pdf = (
        io_mod.load_table(spark, sf_small, "events")
        .select(F.to_date("ts").alias("day"), "value")
        .toPandas()
    )
    pdf["y"] = pdf["value"].map(lambda v: int(math.floor(v * 1000000.0)))
    daily = pdf.groupby("day")["y"].sum().sort_index()
    d0 = daily.index.min()
    by_t = {(day - d0).days: int(v) for day, v in daily.items()}
    n = len(by_t)
    sums = []
    for b in range(200):
        s = 0
        for i in range(n):
            hv = int(hashlib.md5(f"boot:{b}:{i}".encode()).hexdigest()[:7], 16)
            t = hv % n
            s += by_t.get(t, 0)
        sums.append(s)
    ranked = sorted(sums)
    assert r["point_micro_d"] == float(sum(by_t.values()))
    assert r["ci_lo_micro_d"] == float(ranked[5])
    assert r["ci_hi_micro_d"] == float(ranked[194])
    assert r["n_days_d"] == float(n)


def test_kmeans_single_task_matches_distributed_loop(spark, sf_small, monkeypatch):
    """r14 fast path: the one-Arrow-task integer Lloyd kernel must
    reproduce the distributed assign/update loop assignment-for-
    assignment (exact BIGINT arithmetic on both paths, including the
    truncate-toward-zero centroid division on negative coordinate
    sums)."""
    from streaming_ml_with_ksql_spark.operators import clustering

    emb = io_mod.load_table(spark, sf_small, "embeddings")
    fast, loop = kernel_and_distributed(
        monkeypatch,
        [(clustering, "KMEANS_SINGLE_TASK_MAX_CELLS")],
        lambda: clustering.kmeans_fixed_point(emb, k=7, iters=3),
    )
    rows = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["cid"], r["dist"]) for r in df.collect()
    )
    assert rows(fast) == rows(loop)
