"""Round-8 additions: corpus-archive ingestion wire (WARC/1.0 over
RFC-1952 gzip members), lakehouse zone-map pruning, exact multi-factor
OLS, and hard-negative mining for contrastive training data.

Registered AFTER q13_round7e (registry/__init__.py import order) so the
existing ``queries()`` tail stays byte-stable.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401


@register(
    "warc_gz_source_roundtrip",
    """
    SELECT doc_id,
           'http://corpus.local/' || source || '/' ||
             CAST(doc_id AS VARCHAR) AS target_uri,
           lang,
           CAST(octet_length(encode(text)) AS DOUBLE) AS content_length_d,
           text
    FROM documents
    """,
)
def q_warc_gz_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-ARCHIVE ingestion wire (sources/warc_py.py): documents
    shard-grouped into `.warc.gz` streams — one WARC/1.0 record per doc,
    each its own RFC-1952 gzip member (MTIME pinned, CRC32 + ISIZE
    verified), members concatenated per shard exactly like Common Crawl
    lays out crawl archives — then split, gunzipped, and parsed back to
    typed columns. The parquet table is the oracle, so a hash match
    proves the whole encode→compress→concatenate→split→decompress→parse
    chain lossless, including UTF-8 byte-exact Content-Length. Scale
    shape: the shard key is the only shuffle; decode is a narrow Arrow
    map that splits members per task (the boundary-parallel property
    .warc.gz exists for)."""
    from ..sources import warc_py

    docs = _t(spark, sf_dir, "documents")
    blobs = warc_py.encode_warc_gz(docs, shards=16)
    out = warc_py.decode_warc_gz(blobs)
    return out.select(
        "doc_id",
        "target_uri",
        "lang",
        F.col("content_length").cast("double").alias("content_length_d"),
        "text",
    )


_ZONEMAP_ORACLE = """
    WITH d AS (
      SELECT l_orderkey,
             datediff('day', TIMESTAMP '1995-01-01',
                      date_trunc('day', l_shipdate)) AS days
      FROM lineitem),
    lay AS (
      SELECT 'insert_order' AS layout, l_orderkey % 64 AS file_id, days
      FROM d
      UNION ALL
      SELECT 'date_clustered', days // 40, days FROM d),
    z AS (
      SELECT layout, file_id, min(days) AS lo, max(days) AS hi,
             count(*) AS n,
             sum(CASE WHEN days BETWEEN 400 AND 430 THEN 1 ELSE 0 END) AS m
      FROM lay GROUP BY 1, 2)
    SELECT layout,
           CAST(count(*) AS DOUBLE) AS n_files_d,
           CAST(sum(CASE WHEN hi >= 400 AND lo <= 430 THEN 1 ELSE 0 END)
             AS DOUBLE) AS files_scanned_d,
           CAST(sum(n) AS DOUBLE) AS rows_total_d,
           CAST(sum(CASE WHEN hi >= 400 AND lo <= 430 THEN n ELSE 0 END)
             AS DOUBLE) AS rows_scanned_d,
           CAST(sum(m) AS DOUBLE) AS rows_matched_d
    FROM z GROUP BY 1
"""


@register("zonemap_prune_stats", _ZONEMAP_ORACLE)
def q_zonemap_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max per file) pruning audit — the statistic every
    lakehouse planner (Iceberg/Delta/parquet row groups) lives on, made
    a first-class query: bucket lineitem into simulated files under TWO
    layouts (insert-order hash vs date-clustered — the before/after of
    zorder_layout/hilbert_layout), build each file's [min,max] zone map
    on ship-day, and report how many files/rows a 31-day predicate must
    scan vs how many actually match. At sf0.01 the date-clustered
    layout scans 973 rows where insert-order scans all 60,000 — the
    measured argument for clustering at 100 TB, where 'files scanned'
    IS the job cost. Two keyed aggregations, all integers."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.select(
        "l_orderkey",
        F.datediff(
            F.date_trunc("day", F.col("l_shipdate")),
            F.lit("1995-01-01").cast("timestamp"),
        ).alias("days"),
    )
    lay = d.select(
        F.lit("insert_order").alias("layout"),
        (F.col("l_orderkey") % 64).alias("file_id"),
        "days",
    ).unionByName(
        d.select(
            F.lit("date_clustered").alias("layout"),
            F.expr("days div 40").alias("file_id"),
            "days",
        )
    )
    z = lay.groupBy("layout", "file_id").agg(
        F.min("days").alias("lo"),
        F.max("days").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("days").between(400, 430), 1).otherwise(0)
        ).alias("m"),
    )
    hit = (F.col("hi") >= 400) & (F.col("lo") <= 430)
    return z.groupBy("layout").agg(
        F.count(F.lit(1)).cast("double").alias("n_files_d"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("double").alias(
            "files_scanned_d"
        ),
        F.sum("n").cast("double").alias("rows_total_d"),
        F.sum(F.when(hit, F.col("n")).otherwise(0)).cast("double").alias(
            "rows_scanned_d"
        ),
        F.sum("m").cast("double").alias("rows_matched_d"),
    )


_OLS2_ORACLE = """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             CAST((datediff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', o_orderdate)) + 3) % 7 >= 5
               AS BIGINT) AS w,
             sum(CAST(floor(o_totalprice * CAST(1000 AS DOUBLE)) AS BIGINT))
               AS y
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(t) AS HUGEINT) AS st,
             CAST(sum(w) AS HUGEINT) AS sw,
             CAST(sum(t * t) AS HUGEINT) AS stt,
             CAST(sum(t * w) AS HUGEINT) AS stw,
             CAST(sum(w * w) AS HUGEINT) AS sww,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(t * y) AS HUGEINT) AS sty,
             CAST(sum(w * y) AS HUGEINT) AS swy
      FROM daily),
    d AS (
      SELECT n,
        n*(stt*sww - stw*stw) - st*(st*sww - stw*sw)
          + sw*(st*stw - stt*sw) AS det,
        sy*(stt*sww - stw*stw) - st*(sty*sww - stw*swy)
          + sw*(sty*stw - stt*swy) AS det0,
        n*(sty*sww - swy*stw) - sy*(st*sww - stw*sw)
          + sw*(st*swy - sty*sw) AS det1,
        n*(stt*swy - stw*sty) - st*(st*swy - sty*sw)
          + sy*(st*stw - stt*sw) AS det2
      FROM m)
    SELECT CAST(n AS DOUBLE) AS n_days_d,
           CASE WHEN det <= 0 THEN NULL ELSE CAST(
             CASE WHEN det0 >= 0 THEN (det0 * 1000) // det
                  ELSE -((-det0 * 1000) // det) END AS DOUBLE) END
             AS b0_microd_d,
           CASE WHEN det <= 0 THEN NULL ELSE CAST(
             CASE WHEN det1 >= 0 THEN (det1 * 1000) // det
                  ELSE -((-det1 * 1000) // det) END AS DOUBLE) END
             AS b1_microd_per_day_d,
           CASE WHEN det <= 0 THEN NULL ELSE CAST(
             CASE WHEN det2 >= 0 THEN (det2 * 1000) // det
                  ELSE -((-det2 * 1000) // det) END AS DOUBLE) END
             AS b2_microd_weekend_d
    FROM d
"""


@register("ols_two_factor_revenue", _OLS2_ORACLE)
def q_ols_two_factor_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT multiple linear regression in-engine: daily revenue (milli-
    dollar BIGINT) on intercept + day-index trend + weekend flag, solved
    by Cramer's rule on the 3x3 normal equations with every determinant
    a 128-bit integer (DECIMAL(38,0) / HUGEINT — the CUPED overflow
    discipline; Gram moments fit BIGINT through sf10, determinant terms
    peak ~1e32 << 1e38). No matrix library, no float accumulation
    anywhere: the only divisions are the final coefficient ratios,
    emitted as micro-dollar integers with an explicit truncate-toward-
    zero form (DuckDB's // floors where Spark's div truncates — they
    agree only through the ABS trick; det > 0 because X'X is positive
    definite). Extends the exact-trainer family (perceptron, stumps,
    k-means) to closed-form multi-factor OLS — the per-user simple-OLS
    twin is user_value_trend_fit. One day-level aggregate, one 1-row
    moment fold; nothing scales with row count past the first groupBy."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1995-01-01").cast("timestamp"),
        ).alias("t"),
        F.expr(
            "CAST((datediff(date_trunc('day', o_orderdate),"
            " DATE '1970-01-01') + 3) % 7 >= 5 AS BIGINT)"
        ).alias("w"),
    ).agg(
        F.expr(
            "sum(CAST(floor(o_totalprice * CAST(1000 AS DOUBLE)) AS BIGINT))"
        ).alias("y")
    )
    m = daily.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(sum(t) AS DECIMAL(38,0))").alias("st"),
        F.expr("CAST(sum(w) AS DECIMAL(38,0))").alias("sw"),
        F.expr("CAST(sum(t * t) AS DECIMAL(38,0))").alias("stt"),
        F.expr("CAST(sum(t * w) AS DECIMAL(38,0))").alias("stw"),
        F.expr("CAST(sum(w * w) AS DECIMAL(38,0))").alias("sww"),
        F.expr("CAST(sum(y) AS DECIMAL(38,0))").alias("sy"),
        F.expr("CAST(sum(t * y) AS DECIMAL(38,0))").alias("sty"),
        F.expr("CAST(sum(w * y) AS DECIMAL(38,0))").alias("swy"),
    )
    d = m.select(
        "n",
        F.expr(
            "n*(stt*sww - stw*stw) - st*(st*sww - stw*sw)"
            " + sw*(st*stw - stt*sw)"
        ).alias("det"),
        F.expr(
            "sy*(stt*sww - stw*stw) - st*(sty*sww - stw*swy)"
            " + sw*(sty*stw - stt*swy)"
        ).alias("det0"),
        F.expr(
            "n*(sty*sww - swy*stw) - sy*(st*sww - stw*sw)"
            " + sw*(st*swy - sty*sw)"
        ).alias("det1"),
        F.expr(
            "n*(stt*swy - stw*sty) - st*(st*swy - sty*sw)"
            " + sy*(st*stw - stt*sw)"
        ).alias("det2"),
    )

    def coef(num: str) -> str:
        return (
            f"CASE WHEN det <= 0 THEN NULL ELSE CAST("
            f"CASE WHEN {num} >= 0 THEN ({num} * 1000) div det "
            f"ELSE -((-{num} * 1000) div det) END AS DOUBLE) END"
        )

    return d.select(
        F.col("n").cast("double").alias("n_days_d"),
        F.expr(coef("det0")).alias("b0_microd_d"),
        F.expr(coef("det1")).alias("b1_microd_per_day_d"),
        F.expr(coef("det2")).alias("b2_microd_weekend_d"),
    )


@register(
    "hard_negative_mining",
    """
    WITH emb AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (
      SELECT vec_id AS anchor_id, label AS alabel, e AS qe
      FROM emb WHERE vec_id < 32),
    scored AS (
      SELECT anchor_id, c.vec_id AS negative_id,
             round(list_dot_product(qe, c.e)
                   / (sqrt(list_dot_product(qe, qe))
                      * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine,
             CASE WHEN c.label = alabel THEN 1 ELSE 0 END AS label_match
      FROM q CROSS JOIN emb c WHERE c.vec_id != anchor_id),
    neg AS (SELECT * FROM scored WHERE cosine < 0.4),
    ranked AS (
      SELECT anchor_id, negative_id, cosine, label_match,
             CAST(row_number() OVER (PARTITION BY anchor_id
                  ORDER BY cosine DESC, negative_id ASC) AS INT) AS rnk
      FROM neg)
    SELECT anchor_id, negative_id, cosine,
           CAST(label_match AS DOUBLE) AS label_match_d, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data curation (similarity.hard_negative_topk):
    per anchor, the 3 hardest negatives — highest cosine strictly below
    the verified near-duplicate threshold (0.4, the
    embedding_near_dup_pairs contract) — with the label-collision flag
    for false-negative review. The dedup screen and the retrieval
    ranking compose into the training-batch miner; the oracle restates
    both stages over the same double-cast embeddings, so the mined
    pairs hash-check exactly."""
    return similarity.hard_negative_topk(_t(spark, sf_dir, "embeddings"))


@register(
    "zip_archive_roundtrip",
    """
    SELECT doc_id,
           CAST(doc_id % 2 = 1 AS INT) * 8 AS method,
           CAST(octet_length(encode(text)) AS DOUBLE) AS n_bytes_d,
           text
    FROM documents
    """,
)
def q_zip_archive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER bulk-corpus archive wire (sources/zip_py.py): documents
    packed into per-shard ZIP archives — local headers, central
    directory, EOCD locator per PKWARE's public APPNOTE.TXT, members
    alternating STORED/DEFLATE by doc_id parity so both code paths run
    on real data — then located, cross-checked (central vs local
    header), CRC-32-verified, and extracted back to typed columns. The
    parquet table is the oracle; a hash match proves the whole archive
    chain lossless including UTF-8 byte counts. Scale shape mirrors
    warc_gz_source_roundtrip: one shard shuffle, narrow Arrow maps."""
    from ..sources import zip_py

    docs = _t(spark, sf_dir, "documents")
    out = zip_py.decode_zip(zip_py.encode_zip(docs, shards=16))
    return out.select(
        "doc_id",
        "method",
        F.col("n_bytes").cast("double").alias("n_bytes_d"),
        "text",
    )


_EVENT_ZONEMAP_ORACLE = """
    WITH f AS (
      SELECT event_id // 256 AS file_id,
             CAST(floor(value) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND value >= 0)
    SELECT file_id,
           CAST(min(v) AS DOUBLE) AS lo_d,
           CAST(max(v) AS DOUBLE) AS hi_d,
           CAST(count(*) AS DOUBLE) AS n_rows_d,
           CAST(max(v) >= 300 AS INT) AS scanned
    FROM f GROUP BY 1
"""


@register("streaming_zonemap_ingest", _EVENT_ZONEMAP_ORACLE)
def q_streaming_zonemap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone maps maintained CONTINUOUSLY — how a real lakehouse keeps
    its manifests: the events replay emits stateless (file-id, value)
    rows (file = ingest batch of 256 event ids), ONE complete-mode
    groupBy keeps each file's min/max/count (all mergeable — bounded
    state, one row per file), and the drained table carries the
    scanned flag for a high-value scan (v >= 300 — chosen to SPLIT the
    files: per-file maxima span ~190..560, so the flag is
    non-degenerate at every SF, the r7 vacuous-oracle lesson). Streaming twin #13: the pruning statistics update
    per micro-batch without rescanning history, so planner decisions
    stay current while data lands."""
    from .q04_streamksql import _STREAM_SEQ, _replay_events

    stream = _replay_events(spark, sf_dir)
    f = stream.where(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    ).select(
        F.expr("event_id div 256").alias("file_id"),
        F.expr("CAST(floor(value) AS BIGINT)").alias("v"),
    )
    zm = f.groupBy("file_id").agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    h = stream_sinks.run_to_memory(
        zm,
        f"reg_stream_zonemap_{next(_STREAM_SEQ)}",
        output_mode="complete",
    )
    return h.select(
        "file_id",
        F.col("lo").cast("double").alias("lo_d"),
        F.col("hi").cast("double").alias("hi_d"),
        F.col("n").cast("double").alias("n_rows_d"),
        (F.col("hi") >= 300).cast("int").alias("scanned"),
    )


def _gbdt_oracle(rounds: int = 2) -> str:
    """Generated forward-stagewise CTE chain: per round one
    histogram/grid/split/best/leaf block plus the residual update, every
    reused frame MATERIALIZED (the mmr inlining lesson — rK feeds qK,
    the next residual AND an mse scalar)."""
    tz = "CASE WHEN {a} >= 0 THEN ({a}) // ({b}) ELSE -((-({a})) // ({b})) END"
    sql = f"""
    WITH base AS MATERIALIZED (
      SELECT CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT) AS y,
             CAST(extract(hour FROM ts) AS BIGINT) AS f1,
             CAST(datediff('day', TIMESTAMP '2024-01-01',
                           date_trunc('day', ts)) % 7 AS BIGINT) AS f2,
             CAST(datediff('day', TIMESTAMP '2024-01-01',
                           date_trunc('day', ts)) AS BIGINT) AS f3
      FROM events WHERE value IS NOT NULL),
    c0 AS MATERIALIZED (
      SELECT count(*) AS n, sum(y) AS sy,
             {tz.format(a="sum(y)", b="count(*)")} AS f0
      FROM base),
    r1 AS MATERIALIZED (
      SELECT f1, f2, f3, y - (SELECT f0 FROM c0) AS r FROM base)"""
    for m in range(1, rounds + 1):
        step = (
            f"CASE WHEN (CASE (SELECT fid FROM leaf{m})"
            f" WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END)"
            f" <= (SELECT thr FROM leaf{m})"
            f" THEN (SELECT lv FROM leaf{m})"
            f" ELSE (SELECT rv FROM leaf{m}) END"
        )
        sql += f""",
    q{m} AS (
      SELECT 1 AS fid, f1 AS v, r FROM r{m}
      UNION ALL SELECT 2, f2, r FROM r{m}
      UNION ALL SELECT 3, f3, r FROM r{m}),
    hist{m} AS (
      SELECT fid, v, count(*) AS cnt, sum(r) AS s FROM q{m} GROUP BY 1, 2),
    bounds{m} AS (
      SELECT fid, min(v) AS lo, max(v) AS hi,
             sum(cnt) AS n, sum(s) AS st
      FROM hist{m} GROUP BY 1),
    grid{m} AS (
      SELECT DISTINCT fid, n, st, lo + ((hi - lo) * j) // 16 AS thr
      FROM bounds{m}
      CROSS JOIN (SELECT unnest(generate_series(1, 15)) AS j) js),
    split{m} AS (
      SELECT g.fid, g.thr, g.n, g.st,
             sum(CASE WHEN h.v <= g.thr THEN h.cnt ELSE 0 END) AS n_l,
             sum(CASE WHEN h.v <= g.thr THEN h.s ELSE 0 END) AS s_l
      FROM grid{m} g JOIN hist{m} h ON h.fid = g.fid
      GROUP BY 1, 2, 3, 4),
    best{m} AS MATERIALIZED (
      SELECT fid, thr, n, n_l, s_l, st - s_l AS s_r,
             CASE WHEN n_l = 0 OR n - n_l = 0 THEN CAST(-1 AS DOUBLE)
                  ELSE CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l
                     + CAST(st - s_l AS DOUBLE) * CAST(st - s_l AS DOUBLE)
                       / (n - n_l) END AS gain
      FROM split{m} ORDER BY gain DESC, fid, thr LIMIT 1),
    leaf{m} AS MATERIALIZED (
      SELECT fid, thr,
             {tz.format(a="s_l", b="n_l")} AS lv,
             {tz.format(a="s_r", b="n - n_l")} AS rv
      FROM best{m}),
    r{m + 1} AS MATERIALIZED (
      SELECT f1, f2, f3, r - ({step}) AS r FROM r{m})"""
    mse_cols = ", ".join(
        f"CAST((SELECT sum(r * r) FROM r{m + 1}) // (SELECT n FROM c0)"
        f" AS DOUBLE) AS mse{m}_centi2_d"
        for m in range(rounds + 1)
    )
    leaf_cols = ", ".join(
        f"CAST((SELECT fid FROM leaf{m}) AS DOUBLE) AS fid{m}_d, "
        f"CAST((SELECT thr FROM leaf{m}) AS DOUBLE) AS thr{m}_d, "
        f"CAST((SELECT lv FROM leaf{m}) AS DOUBLE) AS lv{m}_cents_d, "
        f"CAST((SELECT rv FROM leaf{m}) AS DOUBLE) AS rv{m}_cents_d"
        for m in range(1, rounds + 1)
    )
    sql += f"""
    SELECT CAST((SELECT n FROM c0) AS DOUBLE) AS n_d,
           CAST((SELECT f0 FROM c0) AS DOUBLE) AS f0_cents_d,
           {leaf_cols},
           {mse_cols}
    """
    return sql


@register("gbdt_stump_boost", _gbdt_oracle())
def q_gbdt_stump_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient boosting trained IN-ENGINE, exactly (ml/linear.py
    gbdt_stump_rounds): two forward-stagewise regression stumps on the
    integer-cents event value over (hour, weekday, day-index) features —
    the additive-model sibling of decision_tree_depth2 (which partitions
    data hierarchically; boosting reweights the WHOLE population by
    residuals each round). Residuals and leaf values stay integers
    through every round (truncate-toward-zero via the ABS idiom on both
    engines); split selection uses the variance-reduction gain in DOUBLE
    from exactly-representable integers (correctly-rounded identical
    cross-engine); train MSE is emitted per stage and is provably
    non-increasing at learning rate 1. The oracle unrolls both rounds as
    MATERIALIZED CTE chains with scalar-subquery split parameters."""
    from ..ml import linear

    ev = _t(spark, sf_dir, "events")
    wide = ev.where(F.col("value").isNotNull()).select(
        F.expr("CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)").alias(
            "y"
        ),
        F.hour("ts").cast("long").alias("f1"),
        F.expr(
            "CAST(datediff(date_trunc('day', ts),"
            " TIMESTAMP '2024-01-01') % 7 AS BIGINT)"
        ).alias("f2"),
        F.expr(
            "CAST(datediff(date_trunc('day', ts),"
            " TIMESTAMP '2024-01-01') AS BIGINT)"
        ).alias("f3"),
    )
    return linear.gbdt_stump_rounds(
        wide, feature_cols=["f1", "f2", "f3"], rounds=2
    )


_NDCG_ORACLE = """
    WITH emb AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (
      SELECT vec_id AS anchor_id, label AS alabel, e AS qe
      FROM emb WHERE vec_id < 32),
    scored AS (
      SELECT anchor_id, alabel, c.vec_id AS neighbor_id, c.label AS nlabel,
             round(list_dot_product(qe, c.e)
                   / (sqrt(list_dot_product(qe, qe))
                      * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
      FROM q CROSS JOIN emb c WHERE c.vec_id != anchor_id),
    ranked AS (
      SELECT anchor_id, alabel,
             CASE WHEN nlabel = alabel THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY anchor_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      FROM scored),
    disc AS (
      SELECT * FROM (VALUES (1, 1000000), (2, 630930), (3, 500000),
                            (4, 430677), (5, 386853)) d(rnk, w)),
    dcg AS (
      SELECT r.anchor_id, r.alabel,
             sum(r.rel * d.w) AS dcg,
             sum(r.rel) AS n_rel_at5
      FROM ranked r JOIN disc d ON d.rnk = r.rnk
      WHERE r.rnk <= 5 GROUP BY 1, 2),
    rtot AS (
      SELECT q.anchor_id, count(*) AS n_rel
      FROM q JOIN emb c
        ON c.label = q.alabel AND c.vec_id != q.anchor_id
      GROUP BY 1),
    idcg AS (
      SELECT r.anchor_id,
             sum(CASE WHEN d.rnk <= least(r.n_rel, 5) THEN d.w
                      ELSE 0 END) AS idcg
      FROM rtot r CROSS JOIN disc d GROUP BY 1)
    SELECT g.anchor_id,
           CAST(g.n_rel_at5 AS DOUBLE) AS n_rel_at5_d,
           CAST(g.dcg AS DOUBLE) AS dcg_d,
           CAST(i.idcg AS DOUBLE) AS idcg_d,
           CASE WHEN i.idcg = 0 THEN NULL
                ELSE CAST(g.dcg * 1000000 // i.idcg AS DOUBLE) END
             AS ndcg_ppm_d
    FROM dcg g JOIN idcg i USING (anchor_id)
"""


@register("ndcg_retrieval_eval", _NDCG_ORACLE)
def q_ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NDCG@5 for the embedding retrieval ranking — the
    ranking-quality metric that closes the retrieval-eval loop
    (ROC-AUC scores the classifier; this scores the SERVING order):
    per anchor, the cosine top-5's label-match relevances against the
    ideal ordering, with the 1/log2(i+1) discounts as INTEGER LITERAL
    constants (1000000, 630930, 500000, 430677, 386853 — computed
    offline; log() at query time is exactly what the cross-engine
    discipline forbids). IDCG caps at min(5, corpus relevant count), so
    ndcg = 1.0 is achievable and meaningful; everything is integer
    sums + one guarded integer division in ppm. Scale shape mirrors
    hard_negative_mining: the bounded 32-anchor probe side BROADCASTS
    while the corpus streams (_probe_scan, VERDICT r8 #2), and the top-5
    rank is the salted two-level exact top-k."""
    from ..operators.similarity import (
        _as_double,
        _cosine_prenormed,
        _keyed_topk,
        _probe_scan,
        _with_norm,
    )

    emb = _as_double(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    q = _with_norm(
        emb.filter(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("alabel"),
            F.col("embedding").alias("q_emb"),
        ),
        "q_emb",
        "q_norm",
    )
    c = _with_norm(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nlabel"),
            F.col("embedding").alias("c_emb"),
        ),
        "c_emb",
        "c_norm",
    )
    scored = (
        _probe_scan(c, q)
        .filter(F.col("anchor_id") != F.col("neighbor_id"))
        .select(
            "anchor_id",
            "alabel",
            "neighbor_id",
            F.when(F.col("nlabel") == F.col("alabel"), 1)
            .otherwise(0)
            .alias("rel"),
            _cosine_prenormed(
                F.col("q_emb"), F.col("c_emb"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine"),
        )
    )
    disc = F.create_map(
        F.lit(1), F.lit(1000000),
        F.lit(2), F.lit(630930),
        F.lit(3), F.lit(500000),
        F.lit(4), F.lit(430677),
        F.lit(5), F.lit(386853),
    )
    top5 = _keyed_topk(scored, "anchor_id", "cosine", "neighbor_id", 5).select(
        "anchor_id",
        "rel",
        (F.col("rel") * disc[F.col("rnk")]).alias("g"),
    )
    dcg = top5.groupBy("anchor_id").agg(
        F.sum("g").alias("dcg"), F.sum("rel").alias("n_rel_at5")
    )
    # Corpus streams; the 32-row (anchor, label) frame is the broadcast
    # build side of the label equi-join (same flip as the scoring stage).
    rtot = (
        emb.select(
            F.col("label").alias("alabel"),
            F.col("vec_id").alias("neighbor_id"),
        )
        .join(F.broadcast(q.select("anchor_id", "alabel")), "alabel")
        .filter(F.col("anchor_id") != F.col("neighbor_id"))
        .groupBy("anchor_id")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    dvals = [1000000, 630930, 500000, 430677, 386853]
    prefix = F.array(*[F.lit(sum(dvals[:i])) for i in range(1, 6)])
    idcg = rtot.select(
        "anchor_id",
        prefix[F.least(F.col("n_rel"), F.lit(5)) - 1].alias("idcg"),
    )
    return dcg.join(idcg, "anchor_id").select(
        "anchor_id",
        F.col("n_rel_at5").cast("double").alias("n_rel_at5_d"),
        F.col("dcg").cast("double").alias("dcg_d"),
        F.col("idcg").cast("double").alias("idcg_d"),
        F.when(F.col("idcg") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.expr("CAST(dcg * 1000000L div idcg AS DOUBLE)")
        )
        .alias("ndcg_ppm_d"),
    )


_ITEM_RECS_ORACLE = """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    pc AS (SELECT l_partkey, count(*) AS n_p FROM op GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    sc AS (
      SELECT pa, pb,
             (n_ab * n_orders * 1000000) // (na.n_p * nb.n_p) AS lift_ppm
      FROM pairs JOIN pc na ON na.l_partkey = pa
                 JOIN pc nb ON nb.l_partkey = pb
      CROSS JOIN n WHERE n_ab >= 2),
    sym AS (SELECT pa AS p, pb AS q, lift_ppm FROM sc
            UNION ALL SELECT pb, pa, lift_ppm FROM sc),
    up AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    cand AS (
      SELECT up.u, s.q, sum(s.lift_ppm) AS score, count(*) AS n_src
      FROM up JOIN sym s ON s.p = up.p
      WHERE up.u % 50 = 0
      GROUP BY 1, 2),
    rec AS (
      SELECT c.* FROM cand c LEFT JOIN up o ON o.u = c.u AND o.p = c.q
      WHERE o.p IS NULL),
    ranked AS (
      SELECT u, q, score, n_src,
             row_number() OVER (PARTITION BY u
                 ORDER BY score DESC, q ASC) AS rnk
      FROM rec)
    SELECT u AS custkey, q AS partkey,
           CAST(score AS DOUBLE) AS score_ppm_d,
           CAST(n_src AS DOUBLE) AS n_src_d,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
"""


@register("item_item_recommendations", _ITEM_RECS_ORACLE)
def q_item_item_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative-filtering SERVING — the recsys workload
    the market-basket analytics feed: per probe user (custkey % 50 = 0,
    a bounded cohort at every SF), top-5 not-yet-purchased parts by the
    SUM of co-purchase lifts against the user's basket. Lift is scored
    in integer ppm ((n_ab * n_orders * 1e6) div (n_a * n_b) — all
    positive, so // and div agree), making the per-candidate SUM
    order-free where a double sum would be partitioning-dependent;
    already-owned parts anti-join out; ranking is a keyed window over
    the probe cohort. Composes the verified copurchase_lift pair stage
    (same within-order join, no catalog cross product). Envelope: the
    ppm product peaks ~7.5e14 at sf1 (BIGINT-safe through sf10).

    Hub-cap story (VERDICT r8 #5): the within-order pair stage is
    basket-bounded — TPC-H orders carry <= 7 lines, so each order emits
    <= 21 pairs and the stage is linear in lineitem (measured: 16.8 s at
    10x, 114 s at 100x — no bend). On hub-prone real co-purchase data
    (one item in millions of baskets) the per-ITEM pair count goes
    quadratic instead; the deployment recipe is the data-adaptive degree
    cap already proven in link_prediction_copurchase (cap at the p99
    item degree, mirrored in the oracle) — not applied here because the
    basket bound makes it a no-op on this schema."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    b = op.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        op.join(
            b,
            (F.col("l_orderkey") == F.col("__ok"))
            & (F.col("l_partkey") < F.col("pb")),
        )
        .groupBy(F.col("l_partkey").alias("pa"), "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sc = (
        pairs.filter(F.col("n_ab") >= 2)
        .join(
            pc.select(F.col("l_partkey").alias("pa"), F.col("n_p").alias("n_a")),
            "pa",
        )
        .join(
            pc.select(F.col("l_partkey").alias("pb"), F.col("n_p").alias("n_b")),
            "pb",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            F.expr(
                "(n_ab * n_orders * 1000000L) div (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )
    sym = sc.select(
        F.col("pa").alias("p"), F.col("pb").alias("q"), "lift_ppm"
    ).unionByName(
        sc.select(F.col("pb").alias("p"), F.col("pa").alias("q"), "lift_ppm")
    )
    up = (
        orders.select(F.col("o_custkey").alias("u"), "o_orderkey")
        .join(
            li.select("l_orderkey", F.col("l_partkey").alias("p")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("u", "p")
        .distinct()
    )
    cand = (
        up.where(F.col("u") % 50 == 0)
        .join(sym, "p")
        .groupBy("u", "q")
        .agg(
            F.sum("lift_ppm").alias("score"),
            F.count(F.lit(1)).alias("n_src"),
        )
    )
    owned = up.select("u", F.col("p").alias("q"))
    rec = cand.join(owned, ["u", "q"], "left_anti")
    w = Window.partitionBy("u").orderBy(F.col("score").desc(), F.col("q").asc())
    return (
        rec.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("u").alias("custkey"),
            F.col("q").alias("partkey"),
            F.col("score").cast("double").alias("score_ppm_d"),
            F.col("n_src").cast("double").alias("n_src_d"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
