"""Round-7 continuation (fourth block) tests: Arrow IPC wire codec,
RRF hybrid retrieval, and difference-in-differences — semantic
properties beyond the oracle hash (scripts/verify_driver.py covers
those)."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from streaming_ml_with_ksql_spark.sources import arrow_ipc
from tests.routes import kernel_and_distributed


DDL = "k bigint, name string, v double"


def test_arrow_ipc_roundtrip_preserves_nulls_and_types(spark):
    rows = [
        (1, "a", 1.5),
        (2, None, float("-0.0")),
        (None, "c", None),
    ]
    df = spark.createDataFrame(rows, DDL)
    out = arrow_ipc.decode_arrow_ipc(arrow_ipc.encode_arrow_ipc(df, DDL), DDL)
    got = sorted(
        [(r["k"], r["name"], r["v"]) for r in out.collect()],
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got[0] == (1, "a", 1.5)
    assert got[1][1] is None
    assert got[2][0] is None and got[2][2] is None
    # schema is declared, not inferred
    assert dict(out.dtypes) == {"k": "bigint", "name": "string", "v": "double"}


def test_arrow_ipc_encode_is_schema_stable_across_null_batches(spark):
    """A partition whose nullable-int column is all-null (pandas would
    infer float64/object) still encodes as int64 under the declared
    schema — the dtype-inference trap the explicit schema exists for."""
    df = spark.createDataFrame([(None, "x", 1.0), (None, "y", 2.0)], DDL)
    payloads = arrow_ipc.encode_arrow_ipc(df, DDL).collect()
    for p in payloads:
        with pa.ipc.open_stream(pa.BufferReader(bytes(p["payload"]))) as rd:
            assert rd.schema == arrow_ipc.arrow_schema(DDL)


def test_arrow_ipc_mixed_schema_payload_rejected(spark):
    other = "k bigint, name string"  # missing column
    df = spark.createDataFrame([(1, "a")], other)
    payloads = arrow_ipc.encode_arrow_ipc(df, other)
    bad = arrow_ipc.decode_arrow_ipc(payloads, DDL)
    with pytest.raises(Exception, match="schema mismatch"):
        bad.collect()


def test_arrow_ipc_unsupported_type_named():
    with pytest.raises(ValueError, match="unsupported arrow-ipc column type"):
        arrow_ipc.arrow_schema("a decimal(10,2)")


def test_rrf_doc_in_both_lists_beats_single_list(spark):
    """A document ranked #1 lexically AND semantically must out-fuse any
    document appearing in only one list (RRF's defining property)."""
    from streaming_ml_with_ksql_spark.operators.text import rrf_hybrid_topk

    docs = spark.createDataFrame(
        [
            # doc 0: the query terms, many times -> top of both lists
            (0, "spark window join spark window join spark"),
            # doc 1: lexical-only hit (one term, long doc)
            (1, "spark " + "filler " * 30),
            # docs 2+: no query terms at all
            (2, "completely unrelated words here"),
            (3, "other text entirely"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in rrf_hybrid_topk(docs).collect()}
    assert out[0]["rnk"] == 1
    assert out[0]["rrf_micro_d"] > out[1]["rrf_micro_d"]
    # doc 0 holds rank 1 in both constituent lists
    assert out[0]["r_lex_d"] == 1.0 and out[0]["r_sem_d"] == 1.0


def test_rrf_scores_are_exact_integer_micro_units(spark):
    from streaming_ml_with_ksql_spark.operators.text import rrf_hybrid_topk

    docs = spark.createDataFrame(
        [(i, "spark window join") for i in range(5)],
        "doc_id long, text string",
    )
    for r in rrf_hybrid_topk(docs).collect():
        v = r["rrf_micro_d"]
        assert v == int(v)  # integer micro-units, no float residue
        parts = []
        for rank_col in ("r_lex_d", "r_sem_d"):
            if r[rank_col] is not None:
                parts.append(1_000_000 // (60 + int(r[rank_col])))
        assert v == sum(parts)


def test_did_recovers_planted_treatment_effect(spark):
    """Treated mean moves by +delta across the cutoff while control is
    flat -> DiD must equal exactly delta (in micro-units)."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY
    import tempfile, os

    # build a miniature lineitem/part pair with a planted effect
    with tempfile.TemporaryDirectory() as d:
        part_rows = [(1, "n", "b", "PROMO BRUSHED", 1, 1.0),
                     (2, "n", "b", "STANDARD TIN", 1, 1.0)]
        spark.createDataFrame(
            part_rows,
            "p_partkey long, p_name string, p_brand string,"
            " p_type string, p_size int, p_retailprice double",
        ).write.parquet(os.path.join(d, "part.parquet"))
        li = []
        for pk, pre_v, post_v in [(1, 10.0, 25.0), (2, 10.0, 10.0)]:
            for ship, v in [("1994-01-01", pre_v), ("1996-01-01", post_v)]:
                li.append(
                    (1, pk, 1, 1, 1.0, v, 0.0, 0.0, "N", "O", ship)
                )
        spark.createDataFrame(
            li,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string, l_shipdate string",
        ).withColumn(
            "l_shipdate", F.col("l_shipdate").cast("timestamp")
        ).write.parquet(os.path.join(d, "lineitem.parquet"))

        row = _REGISTRY["did_promo_effect"].spark(spark, d).collect()[0]
    assert row["mean_control_pre_d"] == row["mean_control_post_d"]
    assert row["did_micro_d"] == pytest.approx(15.0 * 1_000_000, abs=0)


def test_hits_hub_and_authority_ordering(spark):
    """c1 buys all three parts, c2 buys only part 10: c1 is the top
    hub, part 10 (bought by both) the top authority."""
    from streaming_ml_with_ksql_spark.operators.graph import hits_bipartite

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10)], "c long, p long"
    )
    hubs, auths = hits_bipartite(edges, rounds=2)
    h = {r["c"]: r["hs"] for r in hubs.collect()}
    a = {r["p"]: r["as_"] for r in auths.collect()}
    assert h[1] > h[2]
    assert a[10] > a[11] == a[12]
    # fixed-point rescale keeps every score bounded by ~scale
    assert all(0 <= v <= 1_000_000 for v in list(h.values()) + list(a.values()))


def test_hits_scores_partitioning_invariant(spark):
    from streaming_ml_with_ksql_spark.operators.graph import hits_bipartite

    rows = [(c, p) for c in range(6) for p in range(20) if (c * 7 + p) % 3]
    one = spark.createDataFrame(rows, "c long, p long").repartition(1)
    many = spark.createDataFrame(rows, "c long, p long").repartition(7)
    h1, a1 = hits_bipartite(one, rounds=2)
    h2, a2 = hits_bipartite(many, rounds=2)
    assert sorted(map(tuple, h1.collect())) == sorted(map(tuple, h2.collect()))
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_halflife_decay_exact_shifts(spark):
    import os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    with tempfile.TemporaryDirectory() as d:
        rows = [
            # (event_id, ts, value): ages 0w, 3w, 70w (clamped) from max ts
            (1, "2024-06-30 12:00:00", 8.0),
            (2, "2024-06-09 12:00:00", 8.0),
            (3, "2023-02-26 12:00:00", 8.0),
        ]
        spark.createDataFrame(
            [(i, ts, 1, "purchase", v, "{}") for i, ts, v in rows],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = _REGISTRY["halflife_decayed_value"].spark(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["raw_micro_d"] == 24_000_000.0
    # 8e6 (age 0) + 8e6 >> 3 (age 21d = 3w) + 8e6 >> 70 -> 0
    assert r["decayed_micro_d"] == 8_000_000.0 + 1_000_000.0


def _py_dtw(xs, ys):
    import math

    m, n = len(xs), len(ys)
    d = [[math.inf] * n for _ in range(m)]
    for i in range(m):
        for j in range(n):
            c = abs(xs[i] - ys[j])
            if i == 0 and j == 0:
                d[i][j] = c
            else:
                best = min(
                    d[i - 1][j] if i else math.inf,
                    d[i][j - 1] if j else math.inf,
                    d[i - 1][j - 1] if i and j else math.inf,
                )
                d[i][j] = c + best
    return d[m - 1][n - 1]


def test_dtw_matches_reference_dp_and_bounds(spark):
    from streaming_ml_with_ksql_spark.operators.timeseries import dtw_cost

    xs = [3, 1, 4, 1, 5, 9, 2, 6]
    ys = [2, 7, 1, 8, 2, 8, 1, 8]
    ser = spark.createDataFrame(
        [(xs, ys)], "xs array<bigint>, ys array<bigint>"
    )
    r = dtw_cost(ser, m=8).collect()[0]
    assert r["dtw"] == _py_dtw(xs, ys)
    assert r["l1"] == sum(abs(a - b) for a, b in zip(xs, ys))
    assert r["dtw"] <= r["l1"]


def test_dtw_zero_on_identical_series(spark):
    from streaming_ml_with_ksql_spark.operators.timeseries import dtw_cost

    xs = [5, 5, 7, 2]
    ser = spark.createDataFrame(
        [(xs, xs)], "xs array<bigint>, ys array<bigint>"
    )
    r = dtw_cost(ser, m=4).collect()[0]
    assert r["dtw"] == 0 and r["l1"] == 0


def test_kmv_exact_below_k_and_bounded_error_above(spark, sf_small, sf_medium):
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    q = _REGISTRY["kmv_distinct_users"].spark
    for sf_dir in (sf_small, sf_medium):
        for r in q(spark, sf_dir).collect():
            exact, est = r["exact_distinct_d"], r["kmv_estimate_d"]
            if exact <= 64:
                # fewer distinct hashes than k -> the sketch IS exact
                # (up to hash collisions, absent at these cardinalities)
                assert est == exact
            else:
                assert abs(est - exact) / exact < 0.5


def test_jl_projection_preserves_norms_in_expectation(spark, sf_medium):
    import numpy as np
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["jl_projection_embed"].spark(spark, sf_medium).collect()
    import duckdb

    con = duckdb.connect()
    q8 = {
        r[0]: np.array(r[1], dtype=np.int64)
        for r in con.execute(
            f"""WITH gs AS (SELECT max(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE))))) / 127 AS g
                FROM '/root/testdata/sf0.01/embeddings.parquet')
              SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) / g + 0.5) AS BIGINT))
              FROM '/root/testdata/sf0.01/embeddings.parquet', gs"""
        ).fetchall()
    }
    ratios = []
    for r in rows:
        p = np.array([int(v) for v in r["jl_codes"].split(",")], dtype=np.int64)
        orig = q8[r["vec_id"]]
        if orig @ orig:
            # E[||Px||^2] = m * ||x||^2 for +-1 entries (m=16 output dims)
            ratios.append((p @ p) / 16 / (orig @ orig))
    med = sorted(ratios)[len(ratios) // 2]
    assert 0.5 < med < 1.6


def _py_mmr(q8: dict, query_id: int, cand_n: int, k: int):
    rel = {
        v: int(sum(a * b for a, b in zip(c, q8[query_id])))
        for v, c in q8.items()
        if v != query_id
    }
    cand = sorted(rel, key=lambda v: (-rel[v], v))[:cand_n]
    sel, out = [], []
    for t in range(1, k + 1):
        best = None
        for v in cand:
            if v in sel:
                continue
            pen = max(
                (int(sum(a * b for a, b in zip(q8[v], q8[s]))) for s in sel),
                default=0,
            )
            score = rel[v] - pen
            if best is None or score > best[0] or (score == best[0] and v < best[1]):
                best = (score, v)
        sel.append(best[1])
        out.append((t, best[1], float(rel[best[1]]), float(best[0])))
    return out


def test_mmr_matches_python_reference_greedy(spark):
    from streaming_ml_with_ksql_spark.operators.similarity import mmr_diverse_topk

    # deterministic integer-ish embeddings, 30 vectors x 8 dims
    vecs = {
        v: [float(((v * 7 + i * 13) % 11) - 5) for i in range(8)]
        for v in range(30)
    }
    emb = spark.createDataFrame(
        [(v, vecs[v], 0) for v in sorted(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    out = sorted(
        (r["pick_order"], r["vec_id"], r["rel_d"], r["score_d"])
        for r in mmr_diverse_topk(emb, query_id=0, cand_n=12, k=5).collect()
    )
    # replicate the global-scale int8 quantization, then greedy MMR
    gmax = max(abs(x) for c in vecs.values() for x in c)
    gscale = gmax / 127
    import math

    q8 = {
        v: [int(math.floor(x / gscale + 0.5)) for x in c]
        for v, c in vecs.items()
    }
    assert out == _py_mmr(q8, 0, 12, 5)


def test_mmr_single_task_matches_distributed_loop(spark, monkeypatch):
    """r14 fast path: the one-Arrow-task greedy kernel must reproduce the
    distributed per-pick loop row-for-row (both are exact BIGINT
    arithmetic, so equality is bitwise, not approximate)."""
    from streaming_ml_with_ksql_spark.operators import similarity

    vecs = {
        v: [float(((v * 5 + i * 17) % 13) - 6) for i in range(8)]
        for v in range(40)
    }
    emb = spark.createDataFrame(
        [(v, vecs[v], 0) for v in sorted(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    fast, loop = kernel_and_distributed(
        monkeypatch,
        [(similarity, "MMR_SINGLE_TASK_MAX_ROWS")],
        lambda: similarity.mmr_diverse_topk(emb, cand_n=15, k=6),
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, loop.collect()))


def test_mmr_first_pick_is_pure_relevance_and_picks_distinct(spark, sf_medium):
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["mmr_diverse_retrieval"].spark(spark, sf_medium).collect()
    by_order = {int(r["pick_order"]): r for r in rows}
    assert len(by_order) == 8
    assert by_order[1]["score_d"] == by_order[1]["rel_d"]
    assert len({r["vec_id"] for r in rows}) == 8
    # relevance of pick 1 dominates every candidate's relevance
    assert by_order[1]["rel_d"] == max(r["rel_d"] for r in rows)


def test_rake_scores_known_document(spark):
    """'red apple and red berry' -> phrases {'red apple','red berry'}:
    freq(red)=2 deg(red)=4 -> 2e6; apple/berry freq 1 deg 2 -> 2e6;
    both phrases score 4e6 and rank by phrase text."""
    from streaming_ml_with_ksql_spark.operators.text import rake_keyphrases

    docs = spark.createDataFrame(
        [(1, "red apple and red berry")], "doc_id long, text string"
    )
    rows = sorted(
        (r["rnk"], r["phrase"], r["score_micro_d"], r["n_words"])
        for r in rake_keyphrases(docs).collect()
    )
    assert rows == [
        (1, "red apple", 4_000_000.0, 2),
        (2, "red berry", 4_000_000.0, 2),
    ]


def test_rake_stopword_only_text_yields_nothing(spark):
    from streaming_ml_with_ksql_spark.operators.text import rake_keyphrases

    docs = spark.createDataFrame(
        [(1, "the of and to in")], "doc_id long, text string"
    )
    assert rake_keyphrases(docs).count() == 0


def test_fifo_allocation_conserves_and_orders(spark, sf_small):
    """Every return's allocations sum to min(return qty, available
    receipts at its cumulative position); receipts are consumed in
    shipdate order (FIFO: a later receipt is only touched when earlier
    ones are exhausted)."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY
    import duckdb

    out = _REGISTRY["fifo_lot_allocation"].spark(spark, sf_small)
    pdf = out.toPandas()
    con = duckdb.connect()
    chk = con.execute(
        f"""
        WITH r AS (SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS rq
                   FROM '{sf_small}/lineitem.parquet'
                   WHERE l_returnflag = 'R' GROUP BY 1),
        s AS (SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS sq
              FROM '{sf_small}/lineitem.parquet'
              WHERE l_returnflag != 'R' GROUP BY 1)
        SELECT r.l_partkey, least(rq, coalesce(sq, 0)) AS matchable
        FROM r LEFT JOIN s USING (l_partkey)"""
    ).fetchall()
    per_part = pdf.groupby("l_partkey")["alloc_qty_d"].sum().to_dict()
    for pk, matchable in chk:
        assert per_part.get(pk, 0) == matchable
    assert (pdf["alloc_qty_d"] > 0).all()


def test_streaming_kmv_final_state_equals_batch_sketch(spark, sf_small):
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    stream_rows = {
        r["event_type"]: (r["m_d"], r["kth_hash_d"], r["kmv_estimate_d"])
        for r in _REGISTRY["streaming_kmv_ingest"].spark(spark, sf_small).collect()
    }
    batch_rows = {
        r["event_type"]: (r["kmv_estimate_d"], r["kth_hash_d"])
        for r in _REGISTRY["kmv_distinct_users"].spark(spark, sf_small).collect()
    }
    assert set(stream_rows) == set(batch_rows)
    for et, (est, kth) in batch_rows.items():
        assert stream_rows[et][1] == kth
        assert stream_rows[et][2] == est


def _write_events(spark, d, rows):
    import os

    spark.createDataFrame(
        [
            (i, ts, uid, et, 1.0, "{}")
            for i, (ts, uid, et) in enumerate(rows)
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        os.path.join(d, "events.parquet")
    )


def test_shapley_symmetry_and_efficiency(spark):
    """Users 1/2 touch {click,view} then purchase; user 3 touches
    {signup}; user 4 purchases untouched. Symmetric channels get equal
    credit; credits sum to 24 x (conversions - untouched)."""
    import tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = []
    for uid in (1, 2):
        rows += [
            ("2024-01-01 00:00:00", uid, "click"),
            ("2024-01-01 00:01:00", uid, "view"),
            ("2024-01-01 00:02:00", uid, "purchase"),
        ]
    rows += [
        ("2024-01-01 00:00:00", 3, "signup"),
        ("2024-01-01 00:01:00", 3, "purchase"),
        ("2024-01-01 00:00:30", 4, "purchase"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, d, rows)
        out = {
            r["channel"]: (r["shapley_x24_d"], r["touched_conversions_d"])
            for r in _REGISTRY["shapley_channel_attribution"]
            .spark(spark, d)
            .collect()
        }
    assert out["click"] == out["view"]  # symmetric players
    assert out["error"][0] == 0.0  # null player
    total = sum(v[0] for v in out.values())
    assert total == 24.0 * 3  # 4 conversions, 1 untouched
    assert out["signup"][0] == 24.0  # sole channel of its conversion


def test_t_closeness_flags_concentrated_group(spark):
    import os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    docs = []
    # global: 50/50 en/fr across two balanced sources + one skewed
    for i in range(10):
        docs.append((i, "t", "en" if i % 2 else "fr", "balanced", 1))
    for i in range(10, 20):
        docs.append((i, "t", "en", "skewed", 1))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            docs,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["source"]: r
            for r in _REGISTRY["t_closeness_report"].spark(spark, d).collect()
        }
    # global: en 15/20, fr 5/20. skewed group: en 1.0 -> tvd = 0.25
    assert out["skewed"]["tvd_d"] == 0.25
    assert out["skewed"]["breach"] == 0
    # balanced group: en 5/10 vs 0.75 -> tvd = 0.25 as well
    assert out["balanced"]["tvd_d"] == 0.25
    # exactness: integer numerator = 2 * ng * N * tvd
    for r in out.values():
        assert r["tvd_num_d"] == 2 * r["n_group_d"] * 20 * r["tvd_d"]


def test_mulaw_known_codec_vectors():
    from streaming_ml_with_ksql_spark.operators.multimodal import (
        mulaw_decode_sample,
        mulaw_encode_sample,
    )

    # silence encodes to 0xFF and reconstructs exactly
    assert mulaw_encode_sample(0) == 0xFF
    assert mulaw_decode_sample(0xFF) == 0
    # positive full-scale: segment 7, mantissa 15 -> code 0x80
    assert mulaw_encode_sample(32767) == 0x80
    assert mulaw_decode_sample(0x80) == 32124
    # sign symmetry of the compander
    for s in (1, 100, 5000, 32000):
        assert mulaw_decode_sample(
            mulaw_encode_sample(-s)
        ) == -mulaw_decode_sample(mulaw_encode_sample(s))
    # quasi-log error bound: relative error <= ~1/16 + bias slack
    for s in range(-32768, 32768, 257):
        rec = mulaw_decode_sample(mulaw_encode_sample(s))
        assert abs(s - rec) <= abs(s) / 16 + 132


def test_mulaw_codes_cover_all_segments():
    from streaming_ml_with_ksql_spark.operators.multimodal import (
        mulaw_encode_sample,
    )

    segs = {(255 - mulaw_encode_sample(s)) >> 4 & 7 for s in range(0, 32768, 64)}
    assert segs == set(range(8))


def test_conformal_interval_structural_identities(spark, sf_medium):
    import duckdb
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    r = (
        _REGISTRY["conformal_forecast_interval"]
        .spark(spark, sf_medium)
        .collect()[0]
    )
    n, k = int(r["n_cal_d"]), int(r["k_d"])
    assert n > 100 and r["n_holdout_d"] > 0  # the split must be non-degenerate
    assert k == min(-(-((n + 1) * 9) // 10), n)  # ceil(0.9(n+1)) capped
    assert 0 <= r["covered_d"] <= r["n_holdout_d"]
    # qhat is exactly the k-th smallest calibration residual
    con = duckdb.connect()
    kth = con.execute(
        f"""WITH daily AS (
             SELECT datediff('day', TIMESTAMP '1992-01-01',
                             date_trunc('day', o_orderdate)) AS t,
                    sum(CAST(floor(o_totalprice) AS BIGINT)) AS y
             FROM '{sf_medium}/orders.parquet' GROUP BY 1),
           f AS (SELECT a.t, abs(a.y - b.y) AS resid
                 FROM daily a JOIN daily b ON a.t = b.t + 7),
           t0 AS (SELECT min(t) AS t0 FROM daily)
           SELECT resid FROM f, t0 WHERE t < t0 + 365
           ORDER BY resid, t LIMIT 1 OFFSET {k - 1}"""
    ).fetchone()[0]
    assert r["qhat_d"] == float(kth)


def test_cuped_planted_linear_covariate_kills_lift(spark):
    """y = 2x exactly and x integer-centered -> theta = 2 and both
    variants' adjusted means collapse to 2 x the global pre mean."""
    import tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = []
    for uid in range(1, 20):  # n=19, sum(x) divisible by n
        rows.append(("2024-01-02 00:00:00", uid, "view"))
    with tempfile.TemporaryDirectory() as d:
        import os

        data = []
        eid = 0
        for uid in range(1, 20):
            data.append((eid, "2024-01-02 00:00:00", uid, "view",
                         float(uid), "{}"))
            eid += 1
            data.append((eid, "2024-01-25 00:00:00", uid, "purchase",
                         float(2 * uid), "{}"))
            eid += 1
        spark.createDataFrame(
            data,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = _REGISTRY["cuped_adjusted_lift"].spark(spark, d).collect()
    assert len(out) == 2
    gmx_centi = sum(100 * u for u in range(1, 20)) / 19
    for r in out:
        assert r["theta_d"] == 2.0
        assert r["mean_adj_centi_d"] == 2.0 * gmx_centi
    # raw post means differ across variants; CUPED collapsed that gap
    assert out[0]["mean_post_centi_d"] != out[1]["mean_post_centi_d"]


def test_tiff_codec_poison_payloads():
    import pytest as _pytest
    from streaming_ml_with_ksql_spark.operators.multimodal import (
        tiff_bytes,
        tiff_parse,
    )

    good = tiff_bytes(42)
    with _pytest.raises(ValueError, match="byte order"):
        tiff_parse(b"XX" + good[2:])
    with _pytest.raises(ValueError, match="magic"):
        tiff_parse(good[:2] + b"\x00\x00" + good[4:])
    with _pytest.raises(ValueError, match="truncated TIFF header"):
        tiff_parse(good[:6])
    # chop the last strip -> overrun detected, not silently short
    with _pytest.raises(ValueError, match="overruns|strip bytes"):
        tiff_parse(good[:-5])


def test_tiff_multi_strip_layout_is_exercised():
    from streaming_ml_with_ksql_spark.operators.multimodal import (
        tiff_bytes,
        tiff_parse,
        _tiff_dims,
    )

    # every synthetic doc has height >= 10 -> >= 3 strips at rps=4,
    # so the out-of-line LONG arrays are always on the parse path
    for d in range(20):
        meta = tiff_parse(tiff_bytes(d))
        _, h = _tiff_dims(d)
        assert meta["n_strips"] == (h + 3) // 4 >= 3
        assert meta["byte_order"] == "MM"


def test_compaction_nfd_matches_python_reference(spark):
    from streaming_ml_with_ksql_spark.operators.bucketing import (
        compaction_plan_nfd,
    )

    sizes = [(d, s) for d, s in enumerate([7, 3, 9, 4, 4, 2, 8, 1, 6, 5])]
    df = spark.createDataFrame(sizes, "day long, s long")
    out = {
        int(r["bin"]): (r["n_files_d"], r["load_d"], r["fill_ppm_d"])
        for r in compaction_plan_nfd(df).collect()
    }
    # python reference: NFD with capacity 2*max=18
    items = sorted(sizes, key=lambda t: (-t[1], t[0]))
    cap, bins, load = 18, [[]], 0
    for _, s in items:
        if load + s <= cap:
            bins[-1].append(s)
            load += s
        else:
            bins.append([s])
            load = s
    ref = {
        i + 1: (float(len(b)), float(sum(b)), float(sum(b) * 1_000_000 // cap))
        for i, b in enumerate(bins)
    }
    assert out == ref
    assert all(v[1] <= cap for v in out.values())


def test_hll_estimate_within_standard_error(spark, sf_medium):
    """Deterministic accuracy check per regime: when lc_flag=0 the raw
    harmonic estimate must sit within 4 sigma (~6.5% x 4) of exact;
    when lc_flag=1 (small-range regime — sf0.01's 150 users vs m=256 is
    exactly that) the LINEAR COUNTING estimate m*ln(m/V), computed here
    in the test (ln is fine outside the oracle), must be the accurate
    one while the raw estimate is the known-biased value the flag
    exists to mark."""
    import math
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["hll_estimate_accuracy"].spark(spark, sf_medium).collect()
    assert rows
    for r in rows:
        assert 0 < r["s_sum_d"] <= 256.0
        if r["lc_flag"]:
            assert r["v_zeros_d"] > 0
            lc = 256.0 * math.log(256.0 / r["v_zeros_d"])
            assert abs(lc / r["exact_d"] - 1.0) < 0.2
        else:
            assert abs(r["err_ratio_d"]) < 4 * 1.04 / (256 ** 0.5)


def test_naive_bayes_recovers_planted_feature_dependence(spark):
    """Class A dominates mornings (hb 0-1), class B evenings (hb 2-3):
    NB must predict A in morning cells and B in evening cells."""
    import os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    data, eid = [], 0
    for day in range(1, 8):
        for h, et, k in ((3, "alpha", 30), (21, "beta", 30),
                         (3, "beta", 3), (21, "alpha", 3)):
            for _ in range(k):
                data.append(
                    (eid, f"2024-01-{day:02d} {h:02d}:00:00", 1, et, 1.0, "{}")
                )
                eid += 1
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            data,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = {
            (r["hb"], r["wd"]): r["predicted_type"]
            for r in _REGISTRY["naive_bayes_event_type"].spark(spark, d).collect()
        }
    assert len(out) == 28
    for wd in range(7):
        assert out[(0, wd)] == "alpha"  # hour 3 -> bucket 0
        assert out[(3, wd)] == "beta"   # hour 21 -> bucket 3


def test_target_encode_loo_excludes_own_label(spark):
    import os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    data = [
        (1, "2024-01-01 00:00:00", 1, "a", 10.0, "{}"),
        (2, "2024-01-01 00:01:00", 1, "a", 20.0, "{}"),
        (3, "2024-01-01 00:02:00", 1, "a", 30.0, "{}"),
        (4, "2024-01-01 00:03:00", 1, "b", 5.0, "{}"),  # singleton
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            data,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = {
            r["event_id"]: r
            for r in _REGISTRY["target_encode_loo"].spark(spark, d).collect()
        }
    assert out[1]["loo_mean_micro_d"] == 25_000_000.0  # mean of 20,30
    assert out[2]["loo_mean_micro_d"] == 20_000_000.0  # mean of 10,30
    assert out[3]["loo_mean_micro_d"] == 15_000_000.0  # mean of 10,20
    assert out[4]["loo_mean_micro_d"] is None  # singleton -> NULL, no crash


def test_mahalanobis_is_correlation_aware(spark, sf_medium):
    """The flagged orders must have extreme quadratic form relative to
    the population: every top-20 d2 exceeds the population d2 median by
    construction; and the top-1 deviates in at least one axis."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["mahalanobis_order_outliers"].spark(spark, sf_medium).collect()
    assert len(rows) == 20
    assert [r["rnk"] for r in sorted(rows, key=lambda r: -r["d2_scaled_d"])] == list(
        range(1, 21)
    )
    top = rows[0]
    assert abs(top["dx_d"]) > 0 or abs(top["dy_d"]) > 0
    assert all(r["d2_scaled_d"] > 0 for r in rows)


def test_wilson_lower_bound_properties(spark, sf_medium):
    """0 <= LB < p-hat always (the bound is a strict shrink toward 1/2
    from above for p>0), and a perfect keep-rate with larger n must
    outrank a perfect keep-rate with smaller n — the exact failure of
    naive rate sorting that Wilson fixes."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["wilson_topk_parts"].spark(spark, sf_medium).collect()
    assert len(rows) == 20
    for r in rows:
        p = r["kept_d"] / r["n_d"]
        assert 0.0 <= r["wilson_lb_d"] < p or (p == 0.0 and r["wilson_lb_d"] <= 0)
    perfect = [(r["n_d"], r["wilson_lb_d"]) for r in rows
               if r["kept_d"] == r["n_d"]]
    for (n1, w1) in perfect:
        for (n2, w2) in perfect:
            if n1 > n2:
                assert w1 > w2


def test_markov_accuracy_bigrams_partition(spark, sf_medium):
    """Per-prev accuracies are consistent: n_correct <= n_bigrams, the
    predicted type is the argmax of the verified transition matrix,
    and the bigram total matches the transition-matrix total."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    acc = {
        r["prev_type"]: r
        for r in _REGISTRY["markov_next_event_accuracy"]
        .spark(spark, sf_medium)
        .collect()
    }
    tm = _REGISTRY["event_transition_matrix"].spark(spark, sf_medium).collect()
    from collections import defaultdict

    by_prev = defaultdict(list)
    for r in tm:
        by_prev[r["prev_type"]].append((r["next_type"], r["n_d"]))
    for prev, r in acc.items():
        assert r["n_correct_d"] <= r["n_bigrams_d"]
        best = sorted(by_prev[prev], key=lambda t: (-t[1], t[0]))[0]
        assert r["predicted"] == best[0]
        assert r["n_correct_d"] == best[1]
        assert r["n_bigrams_d"] == sum(n for _, n in by_prev[prev])


def test_ransac_ignores_planted_outlier_days(spark):
    """60 days of exactly-linear revenue plus 3 massive outlier days:
    the consensus line must recover the true slope (inliers >= 60) —
    the exact case where plain OLS is dragged off."""
    import os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    import datetime

    rows, ok = [], 0
    base = datetime.date(1992, 1, 1)
    for d in range(60):
        day = (base + datetime.timedelta(days=d)).isoformat()
        # daily revenue 1000 + 10*d on CONSECUTIVE calendar days
        rows.append((ok, 1, "O", float(1000 + 10 * d), day, "1-URGENT"))
        ok += 1
    for d, spike in ((5, 9e5), (20, 8e5), (40, 7e5)):
        day = (base + datetime.timedelta(days=d)).isoformat()
        # spikes land ON linear days: those 3 days become outliers
        rows.append((ok, 1, "O", float(spike), day, "1-URGENT"))
        ok += 1
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate string, o_orderpriority string",
        ).withColumn(
            "o_orderdate", F.col("o_orderdate").cast("timestamp")
        ).write.parquet(os.path.join(tmp, "orders.parquet"))
        r = _REGISTRY["ransac_daily_trend"].spark(spark, tmp).collect()[0]
    assert r["n_inliers_d"] == 57  # 60 linear days minus the 3 corrupted
    # slope 10/day = 10_000_000 ppm, recovered EXACTLY on pure inliers
    assert r["slope_ppm_d"] == 10_000_000.0


def test_postings_varint_sizes_exact(spark, sf_medium):
    """varint bytes recompute exactly from the posting doc-id gaps, and
    delta+varint never exceeds the raw 8-byte encoding."""
    import duckdb
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["postings_delta_varint"].spark(spark, sf_medium).collect()
    assert rows
    con = duckdb.connect()
    for r in rows:
        assert r["varint_bytes_d"] <= r["raw_bytes_d"]
        assert r["varint_bytes_d"] >= r["n_docs_d"]  # >= 1 byte per doc
        got = con.execute(
            f"""WITH d AS (
                 SELECT doc_id,
                        string_split_regex(lower(trim(text)), '\\s+') AS t
                 FROM '{sf_medium}/documents.parquet'),
               hit AS (SELECT DISTINCT doc_id FROM d
                       WHERE list_contains(t, '{r["term"]}')
                         AND doc_id % 4 = {r["shard"]}),
               g AS (SELECT doc_id - coalesce(lag(doc_id)
                       OVER (ORDER BY doc_id), -1) AS g FROM hit)
               SELECT sum(CASE WHEN g < 128 THEN 1 WHEN g < 16384 THEN 2
                               WHEN g < 2097152 THEN 3
                               WHEN g < 268435456 THEN 4 ELSE 5 END) FROM g"""
        ).fetchone()[0]
        assert float(got) == r["varint_bytes_d"]


def test_reuse_distance_known_sequence(spark):
    """Customer buys part A in orders 1,2,4 and part B in order 3 with
    C in 1..4: A's re-accesses have distances 0 (orders 1->2) and 2
    (orders 2->4 span B and C); C's are 0,0,0."""
    import os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    orders, lines, lid = [], [], 0
    for ok, day, parts in [
        (1, "1995-01-01", [100, 300]),
        (2, "1995-01-02", [100, 300]),
        (3, "1995-01-03", [200, 300]),
        (4, "1995-01-04", [100, 300]),
    ]:
        orders.append((ok, 7, "O", 1.0, day, "1-URGENT"))
        for p in parts:
            lines.append((ok, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day))
            lid += 1
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate string, o_orderpriority string",
        ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.parquet(
            os.path.join(d, "orders.parquet")
        )
        spark.createDataFrame(
            lines,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string, l_shipdate string",
        ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).write.parquet(
            os.path.join(d, "lineitem.parquet")
        )
        out = {
            int(r["bucket"]): int(r["n_d"])
            for r in _REGISTRY["reuse_distance_histogram"].spark(spark, d).collect()
        }
    # re-accesses: A: 1->2 (d=0), 2->4 (between = order 3 = {B,C} -> d=2)
    # C (300): 1->2, 2->3, 3->4 all adjacent (d=0)
    assert out == {0: 4, 2: 1}


def test_assortativity_sign_on_constructed_graphs(spark):
    """A star (hub to leaves) is maximally disassortative (r = -1 for a
    double edge set of a star with equal leaves); a clique has zero
    degree variance -> NULL guard."""
    import os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    def run(order_parts):
        with tempfile.TemporaryDirectory() as d:
            orders, lines = [], []
            for ok, parts in order_parts:
                orders.append((ok, 1, "O", 1.0, "1995-01-01", "1-URGENT"))
                for p in parts:
                    lines.append(
                        (ok, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01")
                    )
            spark.createDataFrame(
                orders,
                "o_orderkey long, o_custkey long, o_orderstatus string,"
                " o_totalprice double, o_orderdate string,"
                " o_orderpriority string",
            ).withColumn(
                "o_orderdate", F.col("o_orderdate").cast("timestamp")
            ).write.parquet(os.path.join(d, "orders.parquet"))
            spark.createDataFrame(
                lines,
                "l_orderkey long, l_partkey long, l_suppkey long,"
                " l_linenumber int, l_quantity double,"
                " l_extendedprice double, l_discount double, l_tax double,"
                " l_returnflag string, l_linestatus string,"
                " l_shipdate string",
            ).withColumn(
                "l_shipdate", F.col("l_shipdate").cast("timestamp")
            ).write.parquet(os.path.join(d, "lineitem.parquet"))
            return (
                _REGISTRY["degree_assortativity"].spark(spark, d).collect()[0]
            )

    # star: orders {hub, leaf_i} -> hub degree 4, leaves degree 1
    star = run([(i, [1, 10 + i]) for i in range(4)])
    assert star["assortativity_d"] == -1.0
    # clique: one order with 4 parts -> all degrees equal -> zero
    # variance -> ANSI-guarded NULL
    clique = run([(1, [1, 2, 3, 4])])
    assert clique["assortativity_d"] is None


def test_wire_gauntlet_preserves_corner_values(spark):
    """Chain all four codecs over rows with nulls, negative zero, large
    ids, and microsecond timestamps — the gauntlet must be lossless."""
    import os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = [
        (2**53, "2024-02-29 23:59:59.999999", None, "x", -0.0, None),
        (1, "1970-01-01 00:00:00.000001", 7, "y", 1e308, "{\"a\":1}"),
        (2, "2024-01-01 12:00:00", None, "z", None, ""),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = {
            r["event_id"]: r
            for r in _REGISTRY["wire_format_gauntlet"].spark(spark, d).collect()
        }
    assert out[2**53]["user_id_d"] is None and out[2**53]["props"] is None
    assert str(out[2**53]["ts"]) == "2024-02-29 23:59:59.999999"
    assert out[1]["value"] == 1e308
    assert str(out[1]["ts"]) == "1970-01-01 00:00:00.000001"
    assert out[2]["props"] == "" and out[2]["value"] is None


def test_hist_equalize_flattens_uniform_histogram(spark, sf_small):
    """The synthetic BMP rows form a uniform gray histogram (each of h
    levels has width pixels), so equalization must spread levels evenly:
    max_eq = 255 * h*w // (h*w) ... the top level always maps to 255
    exactly (cdf = total), and the equalized mean sits near 127."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["multimodal_hist_equalize"].spark(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["max_eq_d"] == 255.0  # cdf(top) == total -> 255*total//total
        assert r["n_levels"] == r["height"]  # one level per image row
        mean_eq = r["sum_eq_d"] / (r["width"] * r["height"])
        assert 100 <= mean_eq <= 160  # uniform histogram -> flat remap


def test_winnowing_guarantee_on_shared_substring(spark):
    """The winnowing guarantee: any shared token run of length >=
    k + w - 1 (= 6) leaves at least one shared fingerprint — even at
    DIFFERENT offsets in the two documents (the position-robustness
    MinHash k-min sketches lack)."""
    from streaming_ml_with_ksql_spark.operators.text import winnowing_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, "xx yy " + shared + " zz ww uu vv"),
            (2, "aa bb cc dd ee " + shared + " ff"),
            (3, "completely different words here nothing matches at all ok"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared_d"]
        for r in winnowing_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_randomization_test_detects_planted_weekend_effect(spark):
    import datetime, os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    def build(effect):
        rows, eid = [], 0
        base = datetime.date(2024, 1, 1)  # a Monday
        for d in range(28):
            day = base + datetime.timedelta(days=d)
            is_we = day.weekday() >= 5
            v = 100.0 + (effect if is_we else 0.0) + (d % 3)
            for _ in range(5):
                rows.append(
                    (eid, f"{day.isoformat()} 12:00:00", 1, "view", v, "{}")
                )
                eid += 1
        return rows

    def run(rows):
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows,
                "event_id long, ts string, user_id long, event_type string,"
                " value double, props string",
            ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
                os.path.join(d, "events.parquet")
            )
            return (
                _REGISTRY["randomization_test_weekend_value"]
                .spark(spark, d)
                .collect()[0]
            )

    strong = run(build(effect=500.0))
    assert strong["p_value_ppm_d"] < 60_000  # < 0.06: effect detected
    null = run(build(effect=0.0))
    assert null["p_value_ppm_d"] > 100_000  # > 0.1: no false alarm


def test_wasserstein_zero_on_identical_and_scales_with_shift(spark):
    import datetime, os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    def run(weekend_offset):
        rows, eid = [], 0
        base = datetime.date(2024, 1, 1)
        for d in range(14):
            day = base + datetime.timedelta(days=d)
            off = weekend_offset if day.weekday() >= 5 else 0.0
            for v in (10.0, 20.0, 30.0):
                rows.append(
                    (eid, f"{day.isoformat()} 10:00:00", 1, "view",
                     v + off, "{}")
                )
                eid += 1
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows,
                "event_id long, ts string, user_id long, event_type string,"
                " value double, props string",
            ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
                os.path.join(d, "events.parquet")
            )
            return (
                _REGISTRY["wasserstein_weekend_value"].spark(spark, d).collect()[0]
            )

    same = run(0.0)
    assert same["w1_dollars_d"] == 0.0  # identical distributions
    shifted = run(7.0)
    # a pure +7 location shift has W1 exactly 7
    assert shifted["w1_dollars_d"] == 7.0


def test_hdr_histogram_bucket_arithmetic(spark, sf_medium):
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["latency_hdr_histogram"].spark(spark, sf_medium).collect()
    assert rows
    total_ppm = sum(r["share_ppm_d"] for r in rows)
    assert 999_000 <= total_ppm <= 1_000_000  # floor-div rounding only
    for r in rows:
        assert r["bucket_floor_s_d"] == float((1 << int(r["bucket"])) - 1)


def test_rapid_repeat_flags_only_close_same_type_pairs(spark):
    import os, tempfile
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = [
        (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
        (2, "2024-01-01 10:03:00", 7, "click", 2.0, "{}"),   # 180s: flag
        (3, "2024-01-01 10:05:00", 7, "view", 3.0, "{}"),    # other type
        (4, "2024-01-01 11:00:00", 7, "click", 4.0, "{}"),   # 57min: no
        (5, "2024-01-01 10:04:00", 8, "click", 5.0, "{}"),   # other user
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = _REGISTRY["rapid_repeat_screen"].spark(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["first_event_id"], r["second_event_id"]) == (1, 2)
    assert r["gap_s_d"] == 180.0


def test_ktruss_peel_monotone_and_supported(spark, sf_medium):
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = _REGISTRY["ktruss_copurchase_peel"].spark(spark, sf_medium).collect()
    assert rows
    n0 = rows[0]["n_start_d"]
    nf = rows[0]["n_survivors_d"]
    assert 0 < nf < n0  # the peel removed something, kept something
    # every surviving edge's (post-peel-measured) support >= k-2 = 2
    assert all(r["support_d"] >= 2 for r in rows)
    assert sum(r["n_edges_d"] for r in rows) == nf


def test_streaming_wasserstein_equals_batch(spark, sf_small):
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    batch = _REGISTRY["wasserstein_weekend_value"].spark(spark, sf_small).collect()[0]
    stream = (
        _REGISTRY["streaming_wasserstein_ingest"].spark(spark, sf_small).collect()[0]
    )
    assert tuple(batch) == tuple(stream)  # additive histogram -> identical
