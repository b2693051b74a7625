"""Round-7 continuation: graph landmark distances and the clamped
running balance — analytics shapes the earlier families don't cover
(iterative min-propagation; a non-associative fold made
window-expressible).

Imported LAST from ``registry/__init__.py`` so the registration tail
order of all earlier queries is untouched.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401
from .q04_streamksql import _STREAM_SEQ, _replay_events  # noqa: F401


def _bfs_oracle(iters: int = 4, seed_mod: int = 10) -> str:
    """Unrolled multi-source BFS oracle: the verified
    ngram_jaccard_pairs statement nested as a derived table (the
    corpus_curation_pipeline composition rule), then r1..r{iters}
    reached-set CTEs generated mechanically — min over integers is
    exact and commutative, so the unrolled SQL replays Spark's
    frontier loop exactly (the pagerank_near_dup discipline, without
    even a truncation caveat)."""
    pairs_sql = _REGISTRY["ngram_jaccard_pairs"].oracle
    sql = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({pairs_sql}) q),
    edges AS (SELECT DISTINCT src, dst FROM (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs) u),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, CAST(0 AS BIGINT) AS d
           FROM nodes WHERE node % {seed_mod} = 0)"""
    for i in range(1, iters + 1):
        sql += f""",
    r{i} AS (
      SELECT node, min(d) AS d FROM (
        SELECT node, d FROM r{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.d + 1 AS d
        FROM edges e JOIN r{i - 1} p ON p.node = e.src) u
      GROUP BY node)"""
    sql += f"""
    SELECT CAST(coalesce(r.d, -1) AS DOUBLE) AS hops_d,
           CAST(count(*) AS DOUBLE) AS n_nodes_d
    FROM nodes n LEFT JOIN r{iters} r USING (node)
    GROUP BY 1 ORDER BY 1"""
    return sql


@register("bfs_hops_near_dup", _bfs_oracle(4, 10))
def q_bfs_hops_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-distance histogram of the exact n-gram-Jaccard near-dup
    graph: multi-source BFS from the deterministic landmark set
    (doc_id % 10 == 0), 4 rounds of integer min-propagation
    (operators/graph.py bfs_hops) — how many dedup hops separate each
    document from a canonical landmark, the proximity feature
    PageRank's stationary view can't give. Distances are exact BIGINTs
    (min is commutative → partitioning- and engine-independent);
    unreached vertices report hops = -1 rather than vanishing. Output
    bounded by iters + 2 rows."""
    pairs = text.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))
    dist = graph.bfs_hops(pairs, seed_mod=10, iters=4)
    return (
        dist.select(F.coalesce("d", F.lit(-1)).cast("double").alias("hops_d"))
        .groupBy("hops_d")
        .agg(F.count(F.lit(1)).cast("double").alias("n_nodes_d"))
        .orderBy("hops_d")
    )


@register(
    "clamped_running_balance",
    """
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 1000000.0) AS BIGINT)
                  WHEN event_type = 'error'
                    THEN -CAST(floor(value * 1000000.0) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS dv
      FROM events),
    s1 AS (
      SELECT user_id, ts, event_id, dv,
             sum(dv) OVER w AS ps
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s2 AS (
      SELECT user_id, dv, ps,
             least(CAST(0 AS BIGINT), min(ps) OVER w2) AS floor_s
      FROM s1
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    b AS (SELECT user_id, dv, ps - floor_s AS bal FROM s2)
    SELECT user_id,
           CAST(count(*) AS DOUBLE) AS n_tx_d,
           CAST(max(bal) AS DOUBLE) AS peak_micro_d,
           CAST(sum(CASE WHEN bal = 0 AND dv < 0 THEN 1 ELSE 0 END)
                AS DOUBLE) AS clamp_hits_d
    FROM b GROUP BY user_id ORDER BY user_id
    """,
)
def q_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running credit balance clamped at zero — purchases add
    value, errors charge it back, and the balance can never go negative
    (the inventory/wallet recurrence b_t = max(0, b_{t-1} + d_t), a
    NON-ASSOCIATIVE fold no plain window aggregate expresses). Made
    distributed via the prefix-min identity
    ``b_t = S_t - min(0, min_{k<=t} S_k)``: two per-user window passes
    (prefix sum, running min of it) replace the sequential fold, so the
    operator partitions by user and never single-partitions — the
    100 TB shape. Deltas quantized to exact integer micro-units
    (floor of a correctly-rounded double product is engine-identical),
    so every balance is an exact BIGINT. clamp_hits counts charge-backs
    absorbed by the floor."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 1000000.0).cast("long"),
        )
        .when(
            F.col("event_type") == "error",
            -F.floor(F.col("value") * 1000000.0).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("dv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = d.select(
        "user_id",
        "ts",
        "event_id",
        "dv",
        F.sum("dv").over(w).alias("ps"),
    ).withColumn(
        "floor_s",
        F.least(
            F.lit(0).cast("long"),
            F.min("ps").over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ),
    )
    b = s.select("user_id", "dv", (F.col("ps") - F.col("floor_s")).alias("bal"))
    return (
        b.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_tx_d"),
            F.max("bal").cast("double").alias("peak_micro_d"),
            F.sum(
                F.when((F.col("bal") == 0) & (F.col("dv") < 0), 1).otherwise(0)
            )
            .cast("double")
            .alias("clamp_hits_d"),
        )
        .orderBy("user_id")
    )


def _kmeans_oracle(k: int = 10, iters: int = 3, dims: int = 64, scale: int = 10**6) -> str:
    """Unrolled fixed-point Lloyd oracle: c0 = seeds, then per iteration
    an assignment (exact integer squared L2, argmin with cid tie-break)
    and a centroid update (sum // count per coordinate, empty clusters
    keep their centroid) — every operation integer, so the unrolled SQL
    replays Spark's loop exactly (the pagerank_near_dup discipline).
    dims=64 matches the testdata embeddings at every SF."""
    sql = f"""
    WITH pts AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT)) AS qv
      FROM embeddings),
    c0 AS (SELECT vec_id AS cid, qv AS cv FROM pts ORDER BY vec_id LIMIT {k}),
    pos AS (SELECT unnest(range(1, {dims + 1})) AS p)"""
    for i in range(1, iters + 1):
        sql += f""",
    a{i} AS (
      SELECT vec_id, cid, dist FROM (
        SELECT p.vec_id, c.cid,
               list_sum(list_transform(p.qv, (x, ix) ->
                 (x - c.cv[ix]) * (x - c.cv[ix]))) AS dist,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY list_sum(list_transform(p.qv, (x, ix) ->
                   (x - c.cv[ix]) * (x - c.cv[ix]))), c.cid) AS rn
        FROM pts p CROSS JOIN c{i - 1} c) q WHERE rn = 1),
    s{i} AS (
      SELECT a.cid, pos.p, sum(p2.qv[pos.p]) AS sv, count(*) AS n
      FROM a{i} a JOIN pts p2 USING (vec_id) CROSS JOIN pos
      GROUP BY a.cid, pos.p),
    n{i} AS (SELECT cid, list(sv // n ORDER BY p) AS cv
             FROM s{i} GROUP BY cid),
    c{i} AS (SELECT c.cid, coalesce(n2.cv, c.cv) AS cv
             FROM c{i - 1} c LEFT JOIN n{i} n2 USING (cid))"""
    sql += f""",
    af AS (
      SELECT vec_id, cid, dist FROM (
        SELECT p.vec_id, c.cid,
               list_sum(list_transform(p.qv, (x, ix) ->
                 (x - c.cv[ix]) * (x - c.cv[ix]))) AS dist,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY list_sum(list_transform(p.qv, (x, ix) ->
                   (x - c.cv[ix]) * (x - c.cv[ix]))), c.cid) AS rn
        FROM pts p CROSS JOIN c{iters} c) q WHERE rn = 1),
    agg AS (SELECT cid, count(*) AS n, sum(dist) AS inertia
            FROM af GROUP BY 1),
    lab AS (SELECT a.cid, CAST(e.label AS BIGINT) AS lbl, count(*) AS cnt
            FROM af a JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
    maj AS (SELECT cid, lbl, cnt FROM (
              SELECT cid, lbl, cnt,
                     row_number() OVER (PARTITION BY cid
                                        ORDER BY cnt DESC, lbl) AS rn
              FROM lab) q WHERE rn = 1)
    SELECT CAST(g.cid AS DOUBLE) AS cid_d, CAST(g.n AS DOUBLE) AS n_d,
           CAST(g.inertia AS DOUBLE) AS inertia_d,
           CAST(m.lbl AS DOUBLE) AS majority_label_d,
           CAST(m.cnt AS DOUBLE) AS majority_n_d
    FROM agg g JOIN maj m USING (cid) ORDER BY cid_d"""
    return sql


@register("kmeans_embedding_clusters", _kmeans_oracle(10, 3, 64))
def q_kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embeddings table — three Lloyd
    iterations ENTIRELY in integer fixed point
    (operators/clustering.py): coordinates quantized once to exact
    micro-units, distances exact BIGINT squared L2 with cid tie-break,
    centroid updates sum-div-count — so the iterative float algorithm
    becomes exactly oracleable (the pagerank discipline applied to
    clustering). Per-cluster output: size, exact inertia, and the
    majority planted label (the purity audit). Assignment broadcasts
    the k-row centroid frame; the update map-side combines before a
    k x d shuffle — the plan a 100 TB corpus clustering needs."""
    from ..operators import clustering

    return clustering.kmeans_cluster_report(
        _t(spark, sf_dir, "embeddings"), k=10, iters=3
    )


@register(
    "isotonic_daily_trend",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS y
      FROM events GROUP BY 1),
    d0 AS (SELECT min(day) AS d0 FROM daily),
    d AS (SELECT datediff('day', d0, day) AS t, y FROM daily CROSS JOIN d0),
    pairs AS (SELECT a.t AS i, b.t AS j FROM d a CROSS JOIN d b
              WHERE a.t <= b.t),
    terms AS (
      SELECT p.i, p.j, CAST(sum(c.y) AS HUGEINT) AS num, count(*) AS den
      FROM pairs p JOIN d c ON c.t BETWEEN p.i AND p.j
      GROUP BY 1, 2),
    scaled AS (SELECT i, j, num * (144403552893600 // den) AS sc
               FROM terms),
    tf AS (SELECT t AS tt FROM d),
    s1 AS (SELECT tt, i, min(sc) AS mn_sc
           FROM scaled JOIN tf ON i <= tt AND j >= tt GROUP BY 1, 2),
    iso AS (SELECT tt, max(mn_sc) AS iso_sc FROM s1 GROUP BY 1)
    SELECT CAST(d.t AS DOUBLE) AS day_idx_d,
           CAST(d.y AS DOUBLE) AS y_micro_d,
           CAST(iso_sc // 144403552893600 AS DOUBLE) AS iso_micro_d
    FROM iso JOIN d ON d.t = iso.tt ORDER BY 1
    """,
)
def q_isotonic_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact isotonic regression of daily event value — the monotone
    shape-constrained trend fit (operators/timeseries.py
    isotonic_daily_fit): PAVA's sequential pooling replaced by the
    order-free minimax identity, interval means compared as exact
    integers after LCM scaling (no float comparison anywhere, no pow /
    log). The non-parametric companion to theil_sen / mann_kendall:
    those test or summarize monotonicity, this FITS the best monotone
    curve. Corpus collapses to one row per calendar day before the
    month-bounded O(days^3) broadcast joins."""
    return timeseries.isotonic_daily_fit(_t(spark, sf_dir, "events"))


@register(
    "l_diversity_report",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n,
             count(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE)
                                       / CAST(1000 AS DOUBLE)) AS BIGINT))
               AS l
      FROM customer GROUP BY 1, 2)
    SELECT CAST(c_nationkey AS DOUBLE) AS nationkey_d, c_mktsegment,
           CAST(n AS DOUBLE) AS n_d, CAST(l AS DOUBLE) AS l_d
    FROM g WHERE l < 6
    """,
)
def q_l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity screen over the (nation, market-segment)
    quasi-identifier with account-balance band (1k-USD floor) as the
    sensitive attribute: equivalence classes whose sensitive values
    collapse below l=6 distinct bands — the homogeneity-attack exposure
    k-anonymity misses (a class can be large yet reveal everyone's
    balance band). Completes the privacy family: k_anonymity_report
    (size), l_diversity_report (diversity), gdpr_purge_audit
    (erasure). One map-side-combined aggregation over the bounded
    quasi-id domain."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(
                F.floor(
                    F.col("c_acctbal").cast("double") / F.lit(1000).cast("double")
                ).cast("long")
            ).alias("l"),
        )
        .filter(F.col("l") < 6)
        .select(
            F.col("c_nationkey").cast("double").alias("nationkey_d"),
            "c_mktsegment",
            F.col("n").cast("double").alias("n_d"),
            F.col("l").cast("double").alias("l_d"),
        )
    )


@register(
    "streaming_wallet_balance",
    # The stateful fold over an ordered replay visits every
    # post-transaction balance, and its per-batch emissions merge by
    # sum/max/sum — so the drained aggregation equals the batch
    # prefix-min identity exactly and the verified batch oracle
    # applies verbatim.
    _REGISTRY["clamped_running_balance"].oracle,
)
def q_streaming_wallet_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance twin of the clamped running balance: the
    events replay drives a per-user wallet state machine
    (streaming/stateful.py wallet_balance_stream — three scalars per
    key), folding each micro-batch's deltas through
    b = max(0, b + dv) from the stored balance and emitting mergeable
    increments (tx count, batch peak, clamp hits). This is how an
    account balance stays current on an infinite stream WITHOUT the
    batch identity's two window passes: state is the balance itself."""
    stream = _replay_events(spark, sf_dir)
    deltas = stream.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 1000000.0).cast("long"),
        )
        .when(
            F.col("event_type") == "error",
            -F.floor(F.col("value") * 1000000.0).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("dv"),
    )
    inc = stream_stateful.wallet_balance_stream(deltas)
    drained = stream_sinks.run_to_memory(
        inc, f"reg_stream_wallet_{next(_STREAM_SEQ)}"
    )
    return (
        drained.groupBy("user_id")
        .agg(
            F.sum("n_tx").cast("double").alias("n_tx_d"),
            F.max("peak").cast("double").alias("peak_micro_d"),
            F.sum("clamp_hits").cast("double").alias("clamp_hits_d"),
        )
        .orderBy("user_id")
    )


@register(
    "multimodal_gif_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(10 + doc_id % 17 AS INT) AS width,
             CAST(6 + (doc_id * 3) % 11 AS INT) AS height
      FROM documents),
    xs AS (SELECT doc_id, width, height,
                  unnest(generate_series(0, width - 1)) AS x FROM dims),
    xy AS (SELECT doc_id, height, x,
                  unnest(generate_series(0, height - 1)) AS y FROM xs),
    m AS (
      SELECT doc_id,
             avg(CAST((doc_id + 3 * y + 7 * x) % 256 AS DOUBLE))
               AS mean_index_d,
             avg(CAST(((doc_id + 3 * y + 7 * x) % 256) * 5 % 256 AS DOUBLE))
               AS mean_red_d
      FROM xy GROUP BY 1)
    SELECT d.doc_id, d.width, d.height, CAST(256 AS INT) AS palette_size,
           m.mean_index_d, m.mean_red_d, 'stdlib-gif-lzw' AS decoder
    FROM dims d JOIN m USING (doc_id)
    """,
)
def q_multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF89a path: per-document payloads written with an in-repo
    LZW COMPRESSOR (variable 9..12-bit codes, LSB-first packing, table
    reset at 4096, 255-byte sub-blocks) and decoded back by the in-repo
    LZW decompressor (operators/multimodal.py _gif_bytes/_gif_parse) —
    the palette-indexed sibling of the PNG (zlib) and JPEG (T.81)
    codecs, completing the still-image family. The oracle recomputes
    geometry and palette statistics analytically from the deterministic
    index pattern, so a single wrong pixel anywhere in the LZW
    round-trip breaks the hash. Arrow mapInPandas with size-aware
    fan-out; the decode is a narrow map (no shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_gif(multimodal.synthesize_gif_payload(docs))


@register(
    "msgpack_source_roundtrip",
    """
    SELECT event_id, ts, CAST(user_id AS DOUBLE) AS user_id_d,
           event_type, value, props
    FROM events
    """,
)
def q_msgpack_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The self-describing BINARY wire format
    (sources/msgpack_py.py — pure-Python MessagePack, completing the
    Avro / Debezium-JSON / proto3 / XML family with the tag-prefixed
    schemaless member): events pack into canonical minimal-width
    MessagePack arrays (nil for null, smallest int form, float64,
    fixstr/strN) and decode back to typed columns. The parquet table is
    the oracle, so a hash match proves the round-trip lossless —
    including nullable user_id nil semantics and double bit-exactness
    through the big-endian IEEE path."""
    from ..sources import msgpack_py

    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "ts_micros", "user_id", "event_type", "value", "props"]
    wire_in = ev.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_micros"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    payloads = msgpack_py.encode_msgpack(wire_in, cols)
    decoded = msgpack_py.decode_msgpack(
        payloads,
        cols,
        "event_id bigint, ts_micros bigint, user_id bigint,"
        " event_type string, value double, props string",
    )
    return decoded.select(
        "event_id",
        F.timestamp_micros(F.col("ts_micros")).alias("ts"),
        F.col("user_id").cast("double").alias("user_id_d"),
        "event_type",
        "value",
        "props",
    )


@register(
    "link_prediction_copurchase",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (SELECT pa AS src, pb AS dst FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
    mids AS (SELECT node, d FROM deg WHERE d <= 50),
    cand AS (
      SELECT e1.src AS a, e2.dst AS c, m.d AS md
      FROM edges e1
      JOIN mids m ON m.node = e1.dst
      JOIN edges e2 ON e2.src = e1.dst
      WHERE e1.src < e2.dst),
    nonedge AS (
      SELECT a, c, md FROM cand
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.src = cand.a AND e.dst = cand.c)),
    scored AS (
      SELECT a, c, count(*) AS cn, sum(1000000 // md) AS score
      FROM nonedge GROUP BY 1, 2)
    SELECT a AS part_a, c AS part_b,
           CAST(score AS DOUBLE) AS score_ppm_d,
           CAST(cn AS DOUBLE) AS common_neighbors_d
    FROM scored ORDER BY score DESC, part_a, part_b LIMIT 20
    """,
)
def q_link_prediction_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PREDICTED missing co-purchase edges by resource-allocation
    index (Zhou/Lu/Zhang 2009): parts never bought together whose shared
    co-purchase neighborhoods score highest — the item-item candidate
    recommender over the basket graph (the link-prediction view of
    copurchase_lift's association view). Log-free integer form of
    Adamic-Adar (sum of 1e6 div deg(middle) — rank-equivalent, the
    rational-forms discipline); existing edges leave via an anti-join;
    selection via TakeOrderedAndProject. Scale: two-hop generation
    routes ONLY through middles with deg <= 50 (hub removal — the
    standard item-item CF bound, and 1e6/deg is noise on hubs anyway),
    so the join is O(n_mid * cap^2) rows shuffled on the middle vertex,
    never corpus x corpus; the near-dup graph is unusable here because
    banded Jaccard components are transitively closed (zero two-hop
    non-edges at every SF — verified)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    edges = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(
            pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        .transform(sizing.materialize, "copurchase edges, read twice")
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    mids = deg.where(F.col("d") <= 50)
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("m"))
    e2 = edges.select(F.col("src").alias("m"), F.col("dst").alias("c"))
    cand = (
        e1.join(mids.select(F.col("node").alias("m"), F.col("d").alias("md")), "m")
        .join(e2, "m")
        .where(F.col("a") < F.col("c"))
    )
    nonedge = cand.join(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"],
        "left_anti",
    )
    scored = nonedge.groupBy("a", "c").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(F.expr("1000000L div md")).alias("score"),
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("a").asc(), F.col("c").asc())
        .limit(20)
        .select(
            F.col("a").alias("part_a"),
            F.col("c").alias("part_b"),
            F.col("score").cast("double").alias("score_ppm_d"),
            F.col("cn").cast("double").alias("common_neighbors_d"),
        )
    )


@register(
    "seasonal_decompose_daily",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS y
      FROM events GROUP BY 1),
    d0 AS (SELECT min(day) AS d0 FROM daily),
    d AS (SELECT datediff('day', d0, day) AS t, y
          FROM daily CROSS JOIN d0),
    tr AS (
      SELECT a.t, a.y, sum(b.y) // count(*) AS trend
      FROM d a JOIN d b ON b.t BETWEEN a.t - 3 AND a.t + 3
      GROUP BY a.t, a.y),
    det AS (SELECT t, y, trend, y - trend AS dt, t % 7 AS w FROM tr),
    seas AS (SELECT w, sum(dt) // count(*) AS s FROM det GROUP BY 1)
    SELECT CAST(t AS DOUBLE) AS day_idx_d,
           CAST(y AS DOUBLE) AS y_micro_d,
           CAST(trend AS DOUBLE) AS trend_micro_d,
           CAST(s AS DOUBLE) AS seasonal_micro_d,
           CAST(dt - s AS DOUBLE) AS resid_micro_d
    FROM det JOIN seas USING (w) ORDER BY 1
    """,
)
def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily value series —
    y = trend + weekly seasonal + residual, the monitoring view behind
    every "is this drop seasonal or real" question. Trend is a centered
    7-day moving mean (truncated at the series edges), the seasonal
    index is the mean detrended value per weekday slot (t mod 7 —
    anchored to the first observed day, sidestepping the engines'
    dayofweek origin mismatch), and every mean is an integer
    sum-div-count in exact micro-units (truncation toward zero matches
    across engines even on negative detrended sums — the ses/kmeans
    discipline). Corpus collapses to one row per calendar day before
    any pair math; the month-bounded window join is all broadcast."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("long")).alias("y")
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    d = (
        daily.crossJoin(F.broadcast(d0))
        .select(F.datediff("day", "d0").alias("t"), "y")
    )
    b = d.select(F.col("t").alias("t2"), F.col("y").alias("y2"))
    tr = (
        d.join(
            F.broadcast(b),
            (F.col("t2") >= F.col("t") - 3) & (F.col("t2") <= F.col("t") + 3),
        )
        .groupBy("t", "y")
        .agg(F.expr("sum(y2) div count(*)").alias("trend"))
    )
    det = tr.select(
        "t",
        "y",
        "trend",
        (F.col("y") - F.col("trend")).alias("dt"),
        (F.col("t") % 7).alias("w"),
    )
    seas = det.groupBy("w").agg(F.expr("sum(dt) div count(*)").alias("s"))
    return (
        det.join(F.broadcast(seas), "w")
        .select(
            F.col("t").cast("double").alias("day_idx_d"),
            F.col("y").cast("double").alias("y_micro_d"),
            F.col("trend").cast("double").alias("trend_micro_d"),
            F.col("s").cast("double").alias("seasonal_micro_d"),
            (F.col("dt") - F.col("s")).cast("double").alias("resid_micro_d"),
        )
        .orderBy("day_idx_d")
    )


@register(
    "twap_user_value",
    """
    WITH g AS (
      SELECT user_id,
             CAST(floor(value * 1000.0) AS BIGINT) AS vm,
             (epoch_us(lead(ts) OVER w) - epoch_us(ts)) // 1000 AS gap_ms
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, vm, gap_ms FROM g WHERE gap_ms IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS DOUBLE) AS n_intervals_d,
           CAST(sum(gap_ms) AS DOUBLE) AS span_ms_d,
           CAST(sum(vm * gap_ms) // sum(gap_ms) AS DOUBLE) AS twap_milli_d
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (the TWAP/loan-balance
    aggregate): each observation is weighted by how long it remained
    current (millisecond gap to the user's next event — exact integer
    division of the unix_micros diff), the fair average
    for irregularly-sampled series where plain mean over-weights bursts.
    Weighted sum and divisor are exact integers (milli-unit value x
    millisecond gap: the per-user weighted sum is bounded by
    max_value x calendar span — ROW-COUNT-FREE, so it stays BIGINT-safe
    at any corpus scale; final div truncation shared by both engines). One per-user lead window — partitioned, never
    global. The last observation carries no forward interval and is
    excluded, mirroring the LOCF convention of hourly_gap_fill_locf."""
    ev = _t(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        F.floor(F.col("value") * 1000.0).cast("long").alias("vm"),
        F.expr(
            "(unix_micros(lead(ts) OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id)) - unix_micros(ts)) div 1000"
        ).alias("gap_ms"),
    ).where(F.col("gap_ms").isNotNull())
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_intervals_d"),
            F.sum("gap_ms").cast("double").alias("span_ms_d"),
            F.expr("CAST(sum(vm * gap_ms) div sum(gap_ms) AS DOUBLE)").alias(
                "twap_milli_d"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "referential_integrity_audit",
    """
    SELECT 'orders->customer' AS rel,
           CAST((SELECT count(*) FROM orders) AS DOUBLE) AS n_child_d,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS DOUBLE) AS n_orphan_d
    UNION ALL
    SELECT 'lineitem->orders',
           CAST((SELECT count(*) FROM lineitem) AS DOUBLE),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS DOUBLE)
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT count(*) FROM lineitem) AS DOUBLE),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS DOUBLE)
    UNION ALL
    SELECT 'events->user-profile',
           CAST((SELECT count(*) FROM events) AS DOUBLE),
           CAST((SELECT count(*) FROM events e
                 WHERE e.user_id IS NULL) AS DOUBLE)
    ORDER BY rel
    """,
)
def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit — orphan counts for the
    star schema's foreign keys plus the event stream's nullable user
    key: the data-quality gate a 100 TB ingest runs before anything
    joins (one orphan silently drops rows from every inner join
    downstream). Each check is an anti-join counted map-side (LeftAnti
    over the broadcast/shuffled key relation — never a row-by-row
    lookup); the four 1-row aggregates union into one bounded report.
    Completes the quality family: events_quality_rules (row-level),
    k_anonymity/l_diversity (privacy), this (cross-table)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    events = _t(spark, sf_dir, "events")

    def audit(rel, child, orphan_df):
        return child.agg(
            F.lit(rel).alias("rel"),
            F.count(F.lit(1)).cast("double").alias("n_child_d"),
        ).crossJoin(
            orphan_df.agg(F.count(F.lit(1)).cast("double").alias("n_orphan_d"))
        )

    checks = [
        audit(
            "orders->customer",
            orders,
            orders.join(
                customer.select(F.col("c_custkey").alias("o_custkey")),
                "o_custkey",
                "left_anti",
            ),
        ),
        audit(
            "lineitem->orders",
            lineitem,
            lineitem.join(
                orders.select(F.col("o_orderkey").alias("l_orderkey")),
                "l_orderkey",
                "left_anti",
            ),
        ),
        audit(
            "lineitem->part",
            lineitem,
            lineitem.join(
                part.select(F.col("p_partkey").alias("l_partkey")),
                "l_partkey",
                "left_anti",
            ),
        ),
        audit(
            "events->user-profile",
            events,
            events.where(F.col("user_id").isNull()),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("rel")


@register(
    "streaming_cdc_incremental_agg",
    """
    SELECT CAST(count(*) AS DOUBLE) AS n_customers_d,
           CAST(sum(CAST(floor(
             (CASE WHEN c_custkey % 7 = 0
                   THEN c_acctbal + CAST(100 AS DOUBLE)
                   ELSE c_acctbal END) * CAST(100 AS DOUBLE))
             AS BIGINT)) AS DOUBLE) AS total_cents_d
    FROM customer WHERE c_custkey % 13 <> 0
    """,
)
def q_streaming_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-AGGREGATE maintenance over the CDC stream: the
    Debezium changelog replay drives the per-key delta state machine
    (streaming/stateful.py cdc_delta_agg_stream — insert +1/+v, update
    +(new-old) with the old value held in state, delete -1/-old), and
    summing the drained increments reproduces EXACTLY the count and
    exact-cents balance total of the post-state customer table (the
    oracle recomputes it from the snapshot semantics:
    %13 keys deleted, %7 keys rebalanced +100). This is the O(changes)
    view-maintenance path — cdc_snapshot is O(table) recompute, this
    never touches the snapshot after bootstrap. Balance quantized to
    exact integer cents JVM-side before the Arrow boundary."""
    from .q04_streamksql import _replay_cdc_changelog

    stream = _replay_cdc_changelog(spark, sf_dir)
    with_cents = stream.select(
        "c_custkey",
        "ts",
        "__op",
        F.floor(F.col("c_acctbal") * F.lit(100).cast("double"))
        .cast("long")
        .alias("cents"),
    )
    inc = stream_stateful.cdc_delta_agg_stream(with_cents)
    drained = stream_sinks.run_to_memory(
        inc, f"reg_stream_cdcagg_{next(_STREAM_SEQ)}"
    )
    return drained.agg(
        F.sum("d_n").cast("double").alias("n_customers_d"),
        F.sum("d_sum").cast("double").alias("total_cents_d"),
    )


@register(
    "snapshot_diff_customers",
    """
    SELECT CAST(count(*) AS DOUBLE) AS n_pre_d,
           CAST(sum(CASE WHEN c_custkey % 13 <> 0 THEN 1 ELSE 0 END)
                AS DOUBLE) AS n_post_d,
           CAST(0 AS DOUBLE) AS added_d,
           CAST(sum(CASE WHEN c_custkey % 13 = 0 THEN 1 ELSE 0 END)
                AS DOUBLE) AS removed_d,
           CAST(sum(CASE WHEN c_custkey % 13 <> 0 AND c_custkey % 7 = 0
                         THEN 1 ELSE 0 END) AS DOUBLE) AS changed_d,
           CAST(sum(CASE WHEN c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
                         THEN 1 ELSE 0 END) AS DOUBLE) AS unchanged_d,
           CAST(sum(CASE WHEN c_custkey % 13 <> 0 AND c_custkey % 7 = 0
                         THEN 1 ELSE 0 END) AS DOUBLE) AS acctbal_changed_d,
           CAST(0 AS DOUBLE) AS name_changed_d
    FROM customer
    """,
)
def q_snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconciliation: a GENERIC snapshot diff (full outer join on
    the key, per-row classification into added / removed / changed /
    unchanged plus per-column change counts) run between the original
    customer table and the CDC-materialized post-state — the audit a
    migration or replication pipeline runs to prove the copy faithful.
    The oracle states the diff in closed form from the changelog's
    mutation rules (%13 deleted, %7 rebalanced), so the generic
    operator's output is fully hash-checked. One shuffle on the key
    (both sides hash-partitioned); counts map-side combine."""
    pre = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    post = _REGISTRY["cdc_snapshot_customers"].spark(spark, sf_dir)
    j = pre.alias("a").join(
        post.alias("b"),
        F.col("a.c_custkey") == F.col("b.c_custkey"),
        "full_outer",
    )
    cls = j.select(
        F.col("a.c_custkey").alias("pre_key"),
        F.col("b.c_custkey").alias("post_key"),
        (
            F.col("a.c_custkey").isNotNull()
            & F.col("b.c_custkey").isNotNull()
            & (F.col("a.c_name") != F.col("b.c_name"))
        ).cast("long").alias("name_chg"),
        (
            F.col("a.c_custkey").isNotNull()
            & F.col("b.c_custkey").isNotNull()
            & (F.col("a.c_acctbal") != F.col("b.c_acctbal"))
        ).cast("long").alias("bal_chg"),
    )
    return cls.agg(
        F.count("pre_key").cast("double").alias("n_pre_d"),
        F.count("post_key").cast("double").alias("n_post_d"),
        F.sum(F.when(F.col("pre_key").isNull(), 1).otherwise(0))
        .cast("double")
        .alias("added_d"),
        F.sum(F.when(F.col("post_key").isNull(), 1).otherwise(0))
        .cast("double")
        .alias("removed_d"),
        F.sum(
            F.when((F.col("name_chg") + F.col("bal_chg")) > 0, 1).otherwise(0)
        )
        .cast("double")
        .alias("changed_d"),
        F.sum(
            F.when(
                F.col("pre_key").isNotNull()
                & F.col("post_key").isNotNull()
                & ((F.col("name_chg") + F.col("bal_chg")) == 0),
                1,
            ).otherwise(0)
        )
        .cast("double")
        .alias("unchanged_d"),
        F.sum("bal_chg").cast("double").alias("acctbal_changed_d"),
        F.sum("name_chg").cast("double").alias("name_changed_d"),
    )


def _seasonal_anomaly_oracle() -> str:
    """Composition oracle: the verified seasonal_decompose_daily
    statement nested as a derived table, then exact integer median/MAD
    in DOUBLED units (med2 = sum of the two middle order statistics, so
    odd/even day counts need no fractional division), and the flag
    2*|2*resid - med2| > 3*mad2  <=>  |resid - med| > 3*MAD — every
    comparison integer."""
    dec_sql = _REGISTRY["seasonal_decompose_daily"].oracle
    return f"""
    WITH dec AS (
      SELECT CAST(day_idx_d AS BIGINT) AS t,
             CAST(y_micro_d AS BIGINT) AS y,
             CAST(resid_micro_d AS BIGINT) AS resid
      FROM ({dec_sql}) q),
    n AS (SELECT count(*) AS n FROM dec),
    rk AS (
      SELECT a.t, a.y, a.resid, count(*) AS r
      FROM dec a JOIN dec b
        ON b.resid < a.resid OR (b.resid = a.resid AND b.t <= a.t)
      GROUP BY a.t, a.y, a.resid),
    med AS (
      SELECT sum(CASE WHEN r = (n + 1) // 2 THEN resid ELSE 0 END)
             + sum(CASE WHEN r = (n + 2) // 2 THEN resid ELSE 0 END)
               AS med2
      FROM rk CROSS JOIN n),
    dv AS (SELECT t, y, resid, abs(2 * resid - med2) AS d2
           FROM rk CROSS JOIN med),
    rk2 AS (
      SELECT a.t, count(*) AS r
      FROM dv a JOIN dv b ON b.d2 < a.d2 OR (b.d2 = a.d2 AND b.t <= a.t)
      GROUP BY a.t),
    mad AS (
      SELECT sum(CASE WHEN rk2.r = (n + 1) // 2 THEN dv.d2 ELSE 0 END)
             + sum(CASE WHEN rk2.r = (n + 2) // 2 THEN dv.d2 ELSE 0 END)
               AS mad2
      FROM dv JOIN rk2 USING (t) CROSS JOIN n)
    SELECT CAST(dv.t AS DOUBLE) AS day_idx_d,
           CAST(dv.y AS DOUBLE) AS y_micro_d,
           CAST(dv.resid AS DOUBLE) AS resid_micro_d,
           CAST(dv.d2 AS DOUBLE) AS dev2_micro_d,
           CAST(mad.mad2 AS DOUBLE) AS mad2_micro_d
    FROM dv CROSS JOIN mad
    WHERE dv.d2 > mad.mad2
    ORDER BY 1
    """


@register("seasonal_anomaly_days", _seasonal_anomaly_oracle())
def q_seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly screen: days whose decomposition
    RESIDUAL (seasonal_decompose_daily — trend and weekday effects
    already removed, so a busy Saturday is not an 'anomaly') deviates
    more than 2 robust MADs from the residual median. Median and MAD
    are exact integers in DOUBLED units (sum of the two middle order
    statistics — no fractional midpoint), ranks come from the bounded
    broadcast self-join idiom (the key_skew_profile discipline — no
    partition-less window anywhere), and the flag is a pure integer
    comparison. The composition rule nests the verified decompose
    oracle verbatim."""
    ev = _t(spark, sf_dir, "events")
    dec = (
        _REGISTRY["seasonal_decompose_daily"]
        .spark(spark, sf_dir)
        .select(
            F.col("day_idx_d").cast("long").alias("t"),
            F.col("y_micro_d").cast("long").alias("y"),
            F.col("resid_micro_d").cast("long").alias("resid"),
        )
        .transform(sizing.materialize, "seasonal residuals")
    )
    n = dec.agg(F.count(F.lit(1)).alias("n"))
    b = dec.select(F.col("resid").alias("r2"), F.col("t").alias("t2"))
    rk = (
        dec.join(
            F.broadcast(b),
            (F.col("r2") < F.col("resid"))
            | ((F.col("r2") == F.col("resid")) & (F.col("t2") <= F.col("t"))),
        )
        .groupBy("t", "y", "resid")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    med = (
        rk.crossJoin(F.broadcast(n))
        .agg(
            (
                F.sum(F.when(F.expr("r = (n + 1) div 2"), F.col("resid")).otherwise(0))
                + F.sum(F.when(F.expr("r = (n + 2) div 2"), F.col("resid")).otherwise(0))
            ).alias("med2")
        )
    )
    dv = rk.crossJoin(F.broadcast(med)).select(
        "t", "y", "resid", F.abs(2 * F.col("resid") - F.col("med2")).alias("d2")
    )
    b2 = dv.select(F.col("d2").alias("dd2"), F.col("t").alias("t2"))
    rk2 = (
        dv.join(
            F.broadcast(b2),
            (F.col("dd2") < F.col("d2"))
            | ((F.col("dd2") == F.col("d2")) & (F.col("t2") <= F.col("t"))),
        )
        .groupBy("t", "d2")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    mad = (
        rk2.crossJoin(F.broadcast(n))
        .agg(
            (
                F.sum(F.when(F.expr("r = (n + 1) div 2"), F.col("d2")).otherwise(0))
                + F.sum(F.when(F.expr("r = (n + 2) div 2"), F.col("d2")).otherwise(0))
            ).alias("mad2")
        )
    )
    return (
        dv.crossJoin(F.broadcast(mad))
        .where(F.col("d2") > F.col("mad2"))
        .select(
            F.col("t").cast("double").alias("day_idx_d"),
            F.col("y").cast("double").alias("y_micro_d"),
            F.col("resid").cast("double").alias("resid_micro_d"),
            F.col("d2").cast("double").alias("dev2_micro_d"),
            F.col("mad2").cast("double").alias("mad2_micro_d"),
        )
        .orderBy("day_idx_d")
    )


@register(
    "bootstrap_revenue_ci",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS y
      FROM events GROUP BY 1),
    d0 AS (SELECT min(day) AS d0, count(*) AS n FROM daily),
    d AS (SELECT datediff('day', d0, day) AS t, y, n
          FROM daily CROSS JOIN d0),
    grid AS (
      SELECT b.b, i.i,
             ('0x' || substr(md5('boot:' || CAST(b.b AS VARCHAR) || ':'
                                 || CAST(i.i AS VARCHAR)), 1, 7))
               ::UBIGINT::BIGINT AS hv
      FROM (SELECT unnest(range(0, 200)) AS b) b
      CROSS JOIN (SELECT unnest(range(0, (SELECT n FROM d0))) AS i) i),
    res AS (
      SELECT g.b, sum(d.y) AS s
      FROM grid g JOIN d ON d.t = g.hv % d.n
      GROUP BY g.b),
    rk AS (
      SELECT a.b, a.s, count(*) AS r
      FROM res a JOIN res c ON c.s < a.s OR (c.s = a.s AND c.b <= a.b)
      GROUP BY a.b, a.s),
    tot AS (SELECT sum(y) AS point FROM d)
    SELECT CAST((SELECT n FROM d0) AS DOUBLE) AS n_days_d,
           CAST(200 AS DOUBLE) AS n_resamples_d,
           CAST(point AS DOUBLE) AS point_micro_d,
           CAST((SELECT s FROM rk WHERE r = 6) AS DOUBLE) AS ci_lo_micro_d,
           CAST((SELECT s FROM rk WHERE r = 195) AS DOUBLE) AS ci_hi_micro_d
    FROM tot
    """,
)
def q_bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for total monthly event value —
    200 RESAMPLES WITHOUT RNG: resample b draws its i-th day as
    md5('boot:b:i') mod n_days (a content-free deterministic uniform,
    the weighted_sample_documents discipline), so both engines replay
    the identical resamples and the CI is exactly hash-checkable — the
    bootstrap made oracleable. Resample totals are exact BIGINT sums;
    the 95% band is DEFINED as order statistics 6 and 195 of the 200
    totals (ranked by the bounded self-join idiom, ties by resample
    id — no partition-less window). Scale: the corpus collapses to one
    row per calendar day first; the resample grid is B x days (6,000
    cells), independent of corpus size."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("long")).alias("y")
    )
    d0 = daily.agg(F.min("day").alias("d0"), F.count(F.lit(1)).alias("n"))
    d = (
        daily.crossJoin(F.broadcast(d0))
        .select(F.datediff("day", "d0").alias("t"), "y", "n")
        .transform(sizing.materialize, "daily series")
    )
    n_rows = d.select("n").limit(1)
    spark_b = spark.range(200).select(F.col("id").alias("b"))
    # i spans 0..n-1 from the data-derived day count (NOT the t values:
    # a calendar gap would desync the md5 inputs from the oracle's
    # range(n) grid). 400 is a safe static upper bound (months <= 36
    # days by the isotonic contract).
    spark_i = (
        spark.range(400)
        .crossJoin(F.broadcast(d0.select("n")))
        .where(F.col("id") < F.col("n"))
        .select(F.col("id").alias("i"))
    )
    grid = (
        spark_b.crossJoin(F.broadcast(spark_i))
        .select(
            "b",
            "i",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("boot:"),
                            F.col("b").cast("string"),
                            F.lit(":"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    7,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("hv"),
        )
    )
    res = (
        grid.join(F.broadcast(d), F.col("t") == F.col("hv") % F.col("n"))
        .groupBy("b")
        .agg(F.sum("y").alias("s"))
        .transform(sizing.materialize, "bootstrap resample sums")
    )
    c = res.select(F.col("b").alias("b2"), F.col("s").alias("s2"))
    rk = (
        res.join(
            F.broadcast(c),
            (F.col("s2") < F.col("s"))
            | ((F.col("s2") == F.col("s")) & (F.col("b2") <= F.col("b"))),
        )
        .groupBy("b", "s")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    tot = d.agg(F.sum("y").alias("point"))
    lo = rk.where(F.col("r") == 6).select(F.col("s").alias("lo"))
    hi = rk.where(F.col("r") == 195).select(F.col("s").alias("hi"))
    return (
        tot.crossJoin(F.broadcast(n_rows))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("n").cast("double").alias("n_days_d"),
            F.lit(200.0).alias("n_resamples_d"),
            F.col("point").cast("double").alias("point_micro_d"),
            F.col("lo").cast("double").alias("ci_lo_micro_d"),
            F.col("hi").cast("double").alias("ci_hi_micro_d"),
        )
    )


@register(
    "streaming_seasonal_ingest",
    # The daily micro-unit sums are additive, so the drained stream's
    # day table equals the batch's and the verified decompose oracle
    # applies verbatim.
    _REGISTRY["seasonal_decompose_daily"].oracle,
)
def q_streaming_seasonal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance path of the seasonal decomposition: the
    events replay emits stateless (day, value-micro) rows, ONE
    complete-mode groupBy keeps the additive per-day sums (30 rows of
    state regardless of stream length — the streaming_cms_cells
    contract), and the drained day table runs the identical
    trend/seasonal/residual algebra. This is how the
    'is today seasonal or anomalous' monitor stays current on an
    infinite stream: only the bounded day table ever updates."""
    stream = _replay_events(spark, sf_dir)
    per_day = (
        stream.select(
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 1000000.0).cast("long").alias("vm"),
        )
        .groupBy("day")
        .agg(F.sum("vm").alias("y"))
    )
    daily = stream_sinks.run_to_memory(
        per_day,
        f"reg_stream_seasonal_{next(_STREAM_SEQ)}",
        output_mode="complete",
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    d = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").alias("t"), "y"
    )
    b = d.select(F.col("t").alias("t2"), F.col("y").alias("y2"))
    tr = (
        d.join(
            F.broadcast(b),
            (F.col("t2") >= F.col("t") - 3) & (F.col("t2") <= F.col("t") + 3),
        )
        .groupBy("t", "y")
        .agg(F.expr("sum(y2) div count(*)").alias("trend"))
    )
    det = tr.select(
        "t",
        "y",
        "trend",
        (F.col("y") - F.col("trend")).alias("dt"),
        (F.col("t") % 7).alias("w"),
    )
    seas = det.groupBy("w").agg(F.expr("sum(dt) div count(*)").alias("s"))
    return (
        det.join(F.broadcast(seas), "w")
        .select(
            F.col("t").cast("double").alias("day_idx_d"),
            F.col("y").cast("double").alias("y_micro_d"),
            F.col("trend").cast("double").alias("trend_micro_d"),
            F.col("s").cast("double").alias("seasonal_micro_d"),
            (F.col("dt") - F.col("s")).cast("double").alias("resid_micro_d"),
        )
        .orderBy("day_idx_d")
    )
