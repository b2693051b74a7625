"""Round-8 operators: WARC/gzip corpus wire, zone-map pruning, exact
Cramer OLS, hard-negative mining."""

from __future__ import annotations

import struct
import zlib

import pytest

from pyspark.sql import functions as F

from streaming_ml_with_ksql_spark import io as io_mod
from streaming_ml_with_ksql_spark.sources import warc_py
from tests.oracle import assert_query_matches
from tests.routes import DBSCAN_BOUNDS, kernel_and_distributed

ROUND8 = [
    "warc_gz_source_roundtrip",
    "zip_archive_roundtrip",
    "zonemap_prune_stats",
    "ols_two_factor_revenue",
    "hard_negative_mining",
    "gbdt_stump_boost",
    "ndcg_retrieval_eval",
    "item_item_recommendations",
]

ROUND8_STREAMING = ["streaming_zonemap_ingest"]


@pytest.mark.parametrize("name", ROUND8)
@pytest.mark.sweep
def test_round8_query_matches_oracle(spark, sf_medium, name):
    assert_query_matches(spark, name, sf_medium)


@pytest.mark.parametrize("name", ROUND8_STREAMING)
@pytest.mark.sweep
def test_round8_streaming_matches_oracle(spark, sf_small, name):
    assert_query_matches(spark, name, sf_small)


# --------------------------------------------------------------------------
# gzip member codec (RFC 1952)
# --------------------------------------------------------------------------


def test_gzip_member_roundtrip_and_stdlib_compat():
    import gzip as stdlib_gzip

    payloads = [b"", b"a", b"hello world" * 100, bytes(range(256)) * 7]
    blob = b"".join(warc_py.gzip_member(p) for p in payloads)
    assert warc_py.gunzip_members(blob) == payloads
    # our members are REAL gzip: the stdlib reads them too
    assert stdlib_gzip.decompress(warc_py.gzip_member(payloads[2])) == payloads[2]
    # byte-stable encode (MTIME pinned)
    assert warc_py.gzip_member(b"x") == warc_py.gzip_member(b"x")


def test_gunzip_parses_foreign_flag_fields():
    """A foreign writer may set FNAME/FEXTRA/FCOMMENT/FHCRC — the parser
    must skip them and still verify the trailer (the stdlib writes FNAME
    when given a filename)."""
    data = b"payload from a foreign writer"
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    deflated = co.compress(data) + co.flush()
    extra = b"ab" + struct.pack("<H", 4) + b";;;;"
    header = (
        b"\x1f\x8b\x08"
        + bytes([warc_py._FEXTRA | warc_py._FNAME | warc_py._FCOMMENT])
        + b"\x00\x00\x00\x00\x02\x03"
        + struct.pack("<H", len(extra))
        + extra
        + b"somefile.warc\x00"
        + b"a comment\x00"
    )
    trailer = struct.pack("<II", zlib.crc32(data), len(data))
    assert warc_py.gunzip_members(header + deflated + trailer) == [data]


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda b: b[:5], "truncated gzip header"),
        (lambda b: b"XX" + b[2:], "bad gzip magic"),
        (lambda b: b[:2] + b"\x07" + b[3:], "unsupported gzip CM"),
        (lambda b: b[:-9], "truncated"),
        (
            lambda b: b[:-8] + struct.pack("<I", 0xDEADBEEF) + b[-4:],
            "CRC mismatch",
        ),
        (lambda b: b[:-4] + struct.pack("<I", 12345), "ISIZE mismatch"),
        # a bit-flip inside the DEFLATE stream surfaces as whichever
        # check it reaches first: stream corruption, a short stream, or
        # the CRC of wrongly-inflated bytes
        (
            lambda b: b[:12] + bytes([b[12] ^ 0xFF]) + b[13:],
            "corrupt DEFLATE|truncated DEFLATE|CRC mismatch|ISIZE mismatch",
        ),
    ],
)
def test_gunzip_rejects_poisoned_members(mutate, msg):
    good = warc_py.gzip_member(b"the quick brown fox" * 20)
    with pytest.raises(ValueError, match=msg):
        warc_py.gunzip_members(mutate(good))


# --------------------------------------------------------------------------
# WARC record framing
# --------------------------------------------------------------------------


def test_warc_record_roundtrip_and_poison():
    payload = "héllo wörld".encode("utf-8")
    rec = warc_py.warc_record(
        {"WARC-Type": "response", "WARC-Target-URI": "http://x/1"}, payload
    )
    headers, body = warc_py.parse_warc(rec)
    assert body == payload
    assert headers["Content-Length"] == str(len(payload))
    assert headers["WARC-Type"] == "response"

    with pytest.raises(ValueError, match="no header terminator"):
        warc_py.parse_warc(rec[:20])
    with pytest.raises(ValueError, match="bad WARC version"):
        warc_py.parse_warc(b"WARC/9.9" + rec[8:])
    with pytest.raises(ValueError, match="length mismatch"):
        warc_py.parse_warc(rec[:-6] + rec[-4:])
    with pytest.raises(ValueError, match="CRLF"):
        warc_py.warc_record({"K": "a\nb"}, b"")


def test_warc_gz_shards_split_at_member_boundaries(spark, sf_small):
    """Each shard blob must parse standalone (the boundary-parallel
    property), and shard count bounds the blobs."""
    docs = io_mod.load_table(spark, sf_small, "documents")
    blobs = warc_py.encode_warc_gz(docs, shards=8).collect()
    assert 0 < len(blobs) <= 8
    seen = 0
    for row in blobs:
        members = warc_py.gunzip_members(bytes(row.blob))
        assert members
        for m in members:
            h, _ = warc_py.parse_warc(m)
            assert int(h["Content-Length"]) >= 0
        seen += len(members)
    assert seen == docs.count()


# --------------------------------------------------------------------------
# exact OLS via Cramer
# --------------------------------------------------------------------------


def test_ols_two_factor_matches_float_reference(spark, sf_medium):
    """The integer Cramer solution must agree with a float least-squares
    reference (numpy lstsq) to within the micro-dollar truncation."""
    import numpy as np

    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    row = _REGISTRY["ols_two_factor_revenue"].spark(
        spark, sf_medium
    ).collect()[0]

    orders = io_mod.load_table(spark, sf_medium, "orders")
    daily = (
        orders.groupBy(
            F.datediff(
                F.date_trunc("day", F.col("o_orderdate")),
                F.lit("1995-01-01").cast("timestamp"),
            ).alias("t")
        )
        .agg(
            F.expr(
                "sum(CAST(floor(o_totalprice * CAST(1000 AS DOUBLE))"
                " AS BIGINT))"
            ).alias("y")
        )
        .collect()
    )
    t = np.array([r.t for r in daily], dtype=float)
    w = (((t + (np.datetime64("1995-01-01") - np.datetime64("1970-01-01"))
          / np.timedelta64(1, "D")) + 3) % 7 >= 5).astype(float)
    y = np.array([r.y for r in daily], dtype=float)
    X = np.column_stack([np.ones_like(t), t, w])
    beta = np.linalg.lstsq(X, y, rcond=None)[0]
    # engine output is milli-dollar coefficients scaled 1000 (micro-d)
    assert abs(row.b0_microd_d / 1000.0 - beta[0]) <= max(1.0, abs(beta[0]) * 1e-9)
    assert abs(row.b1_microd_per_day_d / 1000.0 - beta[1]) <= max(
        1.0, abs(beta[1]) * 1e-9
    )
    assert abs(row.b2_microd_weekend_d / 1000.0 - beta[2]) <= max(
        1.0, abs(beta[2]) * 1e-9
    )
    assert row.n_days_d == len(daily)


# --------------------------------------------------------------------------
# zone-map pruning
# --------------------------------------------------------------------------


def test_zonemap_clustered_layout_prunes(spark, sf_medium):
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    rows = {
        r.layout: r
        for r in _REGISTRY["zonemap_prune_stats"].spark(
            spark, sf_medium
        ).collect()
    }
    ins, dc = rows["insert_order"], rows["date_clustered"]
    # same ground truth under both layouts
    assert ins.rows_matched_d == dc.rows_matched_d > 0
    assert ins.rows_total_d == dc.rows_total_d
    # pruning is never allowed to lose matches: scanned >= matched
    for r in (ins, dc):
        assert r.rows_scanned_d >= r.rows_matched_d
        assert r.files_scanned_d <= r.n_files_d
    # the clustered layout actually prunes; insert-order cannot
    assert dc.rows_scanned_d < ins.rows_scanned_d / 10


# --------------------------------------------------------------------------
# hard-negative mining
# --------------------------------------------------------------------------


def test_hard_negatives_exclude_near_duplicates(spark, sf_medium):
    """No mined negative may be a near-duplicate of its anchor (the
    false-negative screen), every anchor gets exactly k rows, and ranks
    order by cosine descending."""
    from streaming_ml_with_ksql_spark.operators import similarity
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    out = _REGISTRY["hard_negative_mining"].spark(spark, sf_medium).collect()
    assert out
    per_anchor: dict[int, list] = {}
    for r in out:
        assert r.cosine < 0.4
        per_anchor.setdefault(r.anchor_id, []).append(r)
    for rows in per_anchor.values():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        cos = [r.cosine for r in rows]
        assert cos == sorted(cos, reverse=True)

    dup = {
        (min(r.vec_a, r.vec_b), max(r.vec_a, r.vec_b))
        for r in similarity.embedding_near_dup_pairs(
            io_mod.load_table(spark, sf_medium, "embeddings")
        ).collect()
    }
    for r in out:
        key = (min(r.anchor_id, r.negative_id), max(r.anchor_id, r.negative_id))
        assert key not in dup


# --------------------------------------------------------------------------
# ZIP archive codec
# --------------------------------------------------------------------------


def test_zip_roundtrip_and_stdlib_compat():
    import io
    import zipfile

    from streaming_ml_with_ksql_spark.sources import zip_py

    members = [
        ("1.txt", b"hello", zip_py.DEFLATED),
        ("2.txt", b"world" * 100, zip_py.STORED),
        ("3.txt", b"", zip_py.STORED),
        ("uñicode.txt", "héllo".encode(), zip_py.DEFLATED),
    ]
    blob = zip_py.zip_archive(members)
    assert zip_py.unzip_archive(blob) == members
    assert zip_py.zip_archive(members) == blob  # byte-stable
    # our archives are REAL zips: the stdlib reads every member
    zf = zipfile.ZipFile(io.BytesIO(blob))
    for name, data, _m in members:
        assert zf.read(name) == data
    # and we read stdlib-written archives (both methods)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        out.writestr("a.txt", b"stored stuff", zipfile.ZIP_STORED)
        out.writestr("b.txt", b"deflated stuff" * 50, zipfile.ZIP_DEFLATED)
    got = {n: d for n, d, _m in zip_py.unzip_archive(buf.getvalue())}
    assert got == {
        "a.txt": b"stored stuff",
        "b.txt": b"deflated stuff" * 50,
    }


def test_zip_rejects_poisoned_archives():
    import struct as _s

    from streaming_ml_with_ksql_spark.sources import zip_py

    good = zip_py.zip_archive([("1.txt", b"payload" * 30, zip_py.DEFLATED)])
    with pytest.raises(ValueError, match="no ZIP end-of-central"):
        zip_py.unzip_archive(good.replace(b"PK\x05\x06", b"PK\x07\x07"))
    # flip a bit in the stored CRC (local + central both, else the
    # cross-check fires first)
    crc_at = good.index(b"PK\x03\x04") + 14
    bad = bytearray(good)
    bad[crc_at] ^= 0xFF
    with pytest.raises(ValueError, match="mismatch"):
        zip_py.unzip_archive(bytes(bad))
    # truncate the member data region
    with pytest.raises(ValueError, match="overruns|truncated|bad"):
        zip_py.unzip_archive(good[:40] + good[60:])
    # unsupported method in both headers
    m_local = good.index(b"PK\x03\x04") + 8
    m_central = good.index(b"PK\x01\x02") + 10
    bad = bytearray(good)
    bad[m_local : m_local + 2] = _s.pack("<H", 99)
    bad[m_central : m_central + 2] = _s.pack("<H", 99)
    with pytest.raises(ValueError, match="unsupported ZIP method"):
        zip_py.unzip_archive(bytes(bad))


# --------------------------------------------------------------------------
# weighted (duplicate-collapsed) DBSCAN
# --------------------------------------------------------------------------


def test_weighted_dbscan_equals_expanded_under_duplicates(spark, sf_small):
    """The r8 100x stress killed the JVM on DBSCAN's expanded eps-graph
    (exact-replica cliques are quadratic in multiplicity). The collapsed
    path must produce IDENTICAL (id, role, cluster) output to
    dbscan_from_pairs over the fully expanded pair list — on a corpus
    where duplicates actually exist."""
    from pyspark.sql import functions as F

    from streaming_ml_with_ksql_spark.operators import clustering, similarity

    emb = io_mod.load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    # plant duplicates: 3 copies of every 7th vector, ids shifted high
    dup = emb.where(F.col("vec_id") % 7 == 0)
    planted = emb.unionByName(
        dup.select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    ).unionByName(
        dup.select((F.col("vec_id") + 200_000).alias("vec_id"), "embedding")
    ).localCheckpoint(eager=True)

    # expanded reference path
    pairs = similarity.embedding_near_dup_pairs_blocked(planted)
    ref = sorted(
        map(
            tuple,
            clustering.dbscan_from_pairs(
                planted, pairs, min_neighbors=2
            ).collect(),
        )
    )

    # collapsed path
    reps = planted.groupBy("embedding").agg(F.min("vec_id").alias("rep"))
    members = planted.join(reps, "embedding").select("vec_id", "rep")
    rep_pairs = similarity.embedding_near_dup_pairs_blocked(
        reps.select(F.col("rep").alias("vec_id"), "embedding")
    )
    got = sorted(
        map(
            tuple,
            clustering.dbscan_from_weighted_pairs(
                members, rep_pairs, min_neighbors=2
            ).collect(),
        )
    )
    assert got == ref
    # the planted copies actually exercised the weighted path: every
    # duplicated vector must be core (m=3 -> 2 same-point neighbors)
    dup_ids = {r.vec_id for r in dup.collect()}
    roles = {t[0]: t[1] for t in got}
    assert all(roles[i] == "core" for i in dup_ids)


# --------------------------------------------------------------------------
# gradient-boosted stumps
# --------------------------------------------------------------------------


def test_gbdt_boost_mse_non_increasing_and_matches_python(spark, sf_medium):
    """Train MSE must be non-increasing stage over stage (lr=1 with
    truncated leaf means: n*a*(a-2m) <= 0), and the whole trajectory
    must match an independent plain-Python replay of the algorithm on
    the collected rows."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    row = _REGISTRY["gbdt_stump_boost"].spark(spark, sf_medium).collect()[0]
    assert row.mse0_centi2_d >= row.mse1_centi2_d >= row.mse2_centi2_d

    ev = io_mod.load_table(spark, sf_medium, "events")
    rows = (
        ev.where(F.col("value").isNotNull())
        .selectExpr(
            "CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT) AS y",
            "CAST(hour(ts) AS BIGINT) AS f1",
            "CAST(datediff(date_trunc('day', ts),"
            " TIMESTAMP '2024-01-01') % 7 AS BIGINT) AS f2",
            "CAST(datediff(date_trunc('day', ts),"
            " TIMESTAMP '2024-01-01') AS BIGINT) AS f3",
        )
        .collect()
    )
    ys = [r.y for r in rows]
    feats = [(r.f1, r.f2, r.f3) for r in rows]
    n = len(ys)

    def trunc_div(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    f0 = trunc_div(sum(ys), n)
    resid = [y - f0 for y in ys]
    stages = []
    for _ in range(2):
        best = None
        for fid in (1, 2, 3):
            vals = [f[fid - 1] for f in feats]
            lo, hi = min(vals), max(vals)
            thrs = sorted({lo + ((hi - lo) * j) // 16 for j in range(1, 16)})
            for thr in thrs:
                n_l = sum(1 for v in vals if v <= thr)
                if n_l == 0 or n_l == n:
                    continue
                s_l = sum(r for v, r in zip(vals, resid) if v <= thr)
                s_r = sum(resid) - s_l
                gain = float(s_l) * float(s_l) / n_l + float(s_r) * float(
                    s_r
                ) / (n - n_l)
                key = (-gain, fid, thr)
                if best is None or key < best[0]:
                    best = (key, fid, thr, s_l, n_l, s_r)
        _, fid, thr, s_l, n_l, s_r = best
        lv = trunc_div(s_l, n_l)
        rv = trunc_div(s_r, n - n_l)
        stages.append((fid, thr, lv, rv))
        resid = [
            r - (lv if f[fid - 1] <= thr else rv)
            for f, r in zip(feats, resid)
        ]
    assert (row.fid1_d, row.thr1_d, row.lv1_cents_d, row.rv1_cents_d) == tuple(
        map(float, stages[0])
    )
    assert (row.fid2_d, row.thr2_d, row.lv2_cents_d, row.rv2_cents_d) == tuple(
        map(float, stages[1])
    )
    assert row.mse2_centi2_d == float(
        sum(r * r for r in resid) // n
    )


def test_weighted_label_prop_equals_expanded_under_duplicates(spark, sf_small):
    """Weighted rep-level propagation must reproduce per-copy
    propagate_labels exactly on a corpus with duplicated texts whose
    copies MIX seed and non-seed status (the subtle case: labeled
    siblings vote into unlabeled siblings at similarity 1)."""
    from pyspark.sql import functions as F

    from streaming_ml_with_ksql_spark.operators import graph, text

    docs = io_mod.load_table(spark, sf_small, "documents").select(
        "doc_id", "text", "lang"
    )
    dup = docs.where(F.col("doc_id") % 9 == 0)
    planted = docs.unionByName(
        dup.select(
            (F.col("doc_id") + 50_000).alias("doc_id"), "text", "lang"
        )
    ).unionByName(
        dup.select(
            (F.col("doc_id") + 100_001).alias("doc_id"), "text", "lang"
        )  # +100_001 flips parity/mod-5 so copies mix seed status
    ).localCheckpoint(eager=True)

    # expanded reference
    pairs = text.ngram_jaccard_pairs(planted)
    seeds = planted.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("node"), F.col("lang").alias("lbl")
    )
    lab = graph.propagate_labels(pairs, seeds, rounds=3, id_col="node")
    ref = sorted(map(tuple, lab.collect()))

    # collapsed weighted path, expanded back to per-copy rows
    reps = planted.groupBy("text").agg(F.min("doc_id").alias("rep"))
    members = planted.join(reps, "text").select(
        "doc_id", "rep", "lang", (F.col("doc_id") % 5 == 0).alias("is_seed")
    ).localCheckpoint(eager=True)
    rep_pairs = text.ngram_jaccard_pairs(
        planted.join(
            reps.select(F.col("rep").alias("doc_id")), "doc_id", "left_semi"
        )
    )
    seed_groups = (
        members.where(F.col("is_seed"))
        .groupBy(F.col("rep").alias("node"), F.col("lang").alias("lbl"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    unlabeled = (
        members.where(~F.col("is_seed"))
        .groupBy(F.col("rep").alias("node"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wlab = graph.propagate_labels_weighted(
        rep_pairs, seed_groups, unlabeled, rounds=3, id_col="node"
    )
    expanded = (
        members.where(F.col("is_seed"))
        .select(
            F.col("doc_id").alias("node"),
            F.col("lang").alias("lbl"),
            F.lit(0).alias("round"),
        )
        .unionByName(
            members.where(~F.col("is_seed"))
            .join(
                wlab.where(F.col("round") > 0).select(
                    F.col("node").alias("rep"), "lbl", "round"
                ),
                "rep",
            )
            .select(F.col("doc_id").alias("node"), "lbl", "round")
        )
    )
    got = sorted(map(tuple, expanded.collect()))
    assert got == ref
    # the planted copies actually exercised sibling voting: at least one
    # non-seed member of a multi-copy rep must be labeled in round 1
    m = {r.doc_id: r for r in members.collect()}
    multi = {r.rep for r in m.values() if r.doc_id != r.rep}
    r1 = {t[0] for t in got if t[2] == 1}
    assert any(
        (not r.is_seed) and r.rep in multi and r.doc_id in r1
        for r in m.values()
    )


def test_ndcg_discounts_and_bounds(spark, sf_medium):
    """The integer discount literals must be round(1e6/log2(i+1))
    (checked against math.log2 here, so no engine ever computes a log),
    and every anchor's DCG <= IDCG (ndcg_ppm <= 1e6) with equality
    reachable only when the top-5 is all-relevant."""
    import math

    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    assert [1000000, 630930, 500000, 430677, 386853] == [
        round(1e6 / math.log2(i + 1)) for i in range(1, 6)
    ]
    rows = _REGISTRY["ndcg_retrieval_eval"].spark(spark, sf_medium).collect()
    assert len(rows) == 32
    for r in rows:
        assert 0 <= r.dcg_d <= r.idcg_d
        assert r.ndcg_ppm_d is None or 0 <= r.ndcg_ppm_d <= 1_000_000
        if r.ndcg_ppm_d == 1_000_000:
            assert r.n_rel_at5_d == 5


def test_item_recommendations_exclude_owned_and_rank(spark, sf_medium):
    """No recommended part may already be in the user's baskets, ranks
    are 1..k per user ordered by score, and every score is a positive
    integer ppm sum."""
    from streaming_ml_with_ksql_spark.registry import _REGISTRY

    out = _REGISTRY["item_item_recommendations"].spark(
        spark, sf_medium
    ).collect()
    assert out
    owned = {
        (r.u, r.p)
        for r in io_mod.load_table(spark, sf_medium, "orders")
        .join(
            io_mod.load_table(spark, sf_medium, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
        .collect()
    }
    per_user: dict[int, list] = {}
    for r in out:
        assert (r.custkey, r.partkey) not in owned
        assert r.score_ppm_d > 0 and r.score_ppm_d == int(r.score_ppm_d)
        per_user.setdefault(r.custkey, []).append(r)
    for rows in per_user.values():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.score_ppm_d for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_weighted_dbscan_single_task_matches_relational_path(
    spark, sf_small, monkeypatch
):
    """r14 fast path: the one-Arrow-task rep-level DBSCAN kernel must
    reproduce the relational join cascade row-for-row (same weighted
    degrees, min-label components, min-label borders, noise) on a
    duplicate-bearing corpus."""
    from pyspark.sql import functions as F

    from streaming_ml_with_ksql_spark.operators import clustering, similarity

    emb = io_mod.load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    dup = emb.where(F.col("vec_id") % 5 == 0)
    planted = emb.unionByName(
        dup.select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
    ).localCheckpoint(eager=True)
    reps = planted.groupBy("embedding").agg(F.min("vec_id").alias("rep"))
    members = planted.join(reps, "embedding").select("vec_id", "rep")
    rep_pairs = similarity.embedding_near_dup_pairs_blocked(
        reps.select(F.col("rep").alias("vec_id"), "embedding")
    ).localCheckpoint(eager=True)
    fast, rel = kernel_and_distributed(
        monkeypatch,
        DBSCAN_BOUNDS,
        lambda: clustering.dbscan_from_weighted_pairs(
            members, rep_pairs, min_neighbors=2
        ),
    )
    fast = sorted(map(tuple, fast.collect()))
    assert fast == sorted(map(tuple, rel.collect()))
    roles = {r for (_, r, _) in fast}
    assert "core" in roles and "noise" in roles
