"""Round-7 continuation (third block): density-based clustering over
the embedding table — the DBSCAN family member alongside integer
k-means (centroid view) and the components-based semantic dedup
(transitive view).

Imported LAST from ``registry/__init__.py`` so the registration tail
order of all earlier queries is untouched.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401
from ..operators import clustering
from .q04_streamksql import _STREAM_SEQ, _replay_events  # noqa: F401
from .q03_analytics import _customer_envelope  # noqa: F401
from ..streaming import sinks as stream_sinks  # noqa: F401


def _dbscan_oracle(min_neighbors: int = 2) -> str:
    """Nest the VERIFIED embedding_near_dup_pairs statement as the
    eps-neighborhood generator (the corpus_curation_pipeline composition
    rule), then express core/border/noise and the core-core components
    fixpoint as a recursive CTE — min-label closure over integers is
    exact, so it replays Spark's star-contraction labels verbatim."""
    pairs_sql = _REGISTRY["embedding_near_dup_pairs"].oracle
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT vec_a, vec_b FROM ({pairs_sql}) q),
    edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
              UNION ALL SELECT vec_b, vec_a FROM pairs),
    deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
    core AS (SELECT u FROM deg WHERE d >= {min_neighbors}),
    cedges AS (
      SELECT e.u, e.v FROM edges e
      JOIN core a ON e.u = a.u JOIN core b ON e.v = b.u),
    reach(u, label) AS (
      SELECT u, u FROM core
      UNION
      SELECT e.v, r.label FROM reach r JOIN cedges e ON e.u = r.u),
    comp AS (SELECT u, min(label) AS cid FROM reach GROUP BY u),
    border AS (
      SELECT e.u, min(c.cid) AS cid
      FROM edges e JOIN comp c ON c.u = e.v
      WHERE e.u NOT IN (SELECT u FROM core)
      GROUP BY e.u)
    SELECT v.vec_id,
           CASE WHEN cc.cid IS NOT NULL THEN 'core'
                WHEN bc.cid IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(coalesce(cc.cid, bc.cid, -1) AS DOUBLE) AS cluster_id_d
    FROM embeddings v
    LEFT JOIN comp cc ON cc.u = v.vec_id
    LEFT JOIN border bc ON bc.u = v.vec_id
    """


@register("dbscan_embedding_clusters", _dbscan_oracle(2))
def q_dbscan_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embedding corpus: eps-neighborhoods from the
    exact-rescored blocked-GEMM pair generator (bit-identical to the
    all-pairs SQL at cosine >= 0.4), then core (>= 2 eps-neighbors),
    clusters (min-core-id components over core-core edges, star
    contraction), border (min core-neighbor cluster), noise (-1) —
    the density view of the embedding space that k-means' centroids
    and the dedup components' transitive closure both miss (a sparse
    bridge point is 'noise' here but merges components there).
    Per-vertex output over ALL vec_ids; deterministic at any
    partitioning.

    r8: bit-identical vectors collapse to a weighted representative
    BEFORE the GEMM (copies share neighborhoods; rep = min vec_id makes
    rep-level component minima the member minima, so the output — and
    the unchanged oracle — is exactly dbscan_from_pairs over the
    expanded graph, pinned by test). On duplicate-free testdata this is
    a no-op groupBy; under the 100x replicated stress it is the
    difference between 24.7M clique edges (JVM death) and a linear
    member join (operators/clustering.py dbscan_from_weighted_pairs)."""
    emb = _t(spark, sf_dir, "embeddings")
    em = emb.select("vec_id", "embedding")
    # ONE array-keyed shuffle (window over embedding) instead of the r8
    # groupBy + join-back pair — the collapse's no-op cost on
    # duplicate-free data is halved; semantics identical (rep = min
    # vec_id among bit-identical vectors).
    wemb = Window.partitionBy("embedding")
    tagged = em.select(
        "vec_id", "embedding", F.min("vec_id").over(wemb).alias("rep")
    ).transform(sizing.materialize, "dbscan duplicate-collapsed vectors")
    members = tagged.select("vec_id", "rep")
    rep_pairs = similarity.embedding_near_dup_pairs_blocked(
        tagged.filter(F.col("vec_id") == F.col("rep")).select(
            F.col("rep").alias("vec_id"), "embedding"
        )
    )
    out = clustering.dbscan_from_weighted_pairs(
        members, rep_pairs, min_neighbors=2
    )
    return out.select(
        "vec_id",
        "role",
        F.col("cluster_id").cast("double").alias("cluster_id_d"),
    )


_HOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT datediff('day', TIMESTAMP '1995-01-01',
                  date_trunc('day', o_orderdate)) AS t,
         (sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000) AS x
  FROM orders GROUP BY 1),
idx AS (SELECT row_number() OVER (ORDER BY t) AS rn, x FROM daily),
n AS (SELECT count(*) AS c FROM idx),
s(i, l, b) AS (
  SELECT 2,
         (SELECT x FROM idx WHERE rn = 1) * 1000,
         ((SELECT x FROM idx WHERE rn = 2)
          - (SELECT x FROM idx WHERE rn = 1)) * 1000
  UNION ALL
  SELECT s.i + 1,
         (2 * d.x * 1000 + 8 * (s.l + s.b)) // 10,
         ((((2 * d.x * 1000 + 8 * (s.l + s.b)) // 10) - s.l)
          + 9 * s.b) // 10
  FROM s JOIN idx d ON d.rn = s.i
  WHERE s.i <= (SELECT c FROM n))
SELECT CAST((SELECT c FROM n) AS DOUBLE) AS n_days_d,
       CAST(l AS DOUBLE) AS level_milli_d,
       CAST(b AS DOUBLE) AS trend_milli_d,
       CAST((l + 7 * b) // 1000 AS DOUBLE) AS forecast7_kusd_d
FROM s WHERE i = (SELECT c FROM n) + 1
"""


@register("holt_forecast_revenue", _HOLT_ORACLE)
def q_holt_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend,
    alpha = 0.2, beta = 0.1) of daily revenue as an INTEGER FIXED-POINT
    fold — the trend-aware forecaster SES cannot be (SES lags any
    drifting series by design). State is a BIGINT struct (level, trend)
    in milli-kilodollar units folded JVM-side by Spark's higher-order
    ``aggregate`` over the calendar-bounded daily list; each step is
      l' = (2*x*1000 + 8*(l+b)) div 10
      b' = ((l' - l) + 9*b) div 10
    with div truncating toward zero on BOTH engines (verified), so the
    whole trajectory is engine- and partitioning-exact; DuckDB replays
    it as a recursive CTE (list_reduce has no struct-init form).
    Init: l1 = x1, b1 = x2 - x1 (classic Holt). Forecast h=7:
    l + 7*b. Scale: the fold input is ONE bounded row per calendar
    day — the same contract as ses_forecast_revenue/revenue_autocorr."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1995-01-01").cast("timestamp"),
        ).alias("t")
    ).agg(
        F.expr("sum(CAST(floor(o_totalprice) AS BIGINT)) div 1000L").alias("x")
    )
    ser = daily.agg(
        F.expr("transform(array_sort(collect_list(struct(t, x))), e -> e.x)")
        .alias("xs")
    )
    step = (
        "(acc, v) -> named_struct("
        "'l', (2 * v * 1000L + 8 * (acc.l + acc.b)) div 10, "
        "'b', ((((2 * v * 1000L + 8 * (acc.l + acc.b)) div 10) - acc.l)"
        " + 9 * acc.b) div 10)"
    )
    f = ser.select(
        F.size("xs").alias("n"),
        F.expr(
            "aggregate(slice(xs, 2, size(xs) - 1), "
            "named_struct('l', xs[0] * 1000L, 'b', (xs[1] - xs[0]) * 1000L), "
            + step
            + ")"
        ).alias("s"),
    )
    return f.select(
        F.col("n").cast("double").alias("n_days_d"),
        F.col("s.l").cast("double").alias("level_milli_d"),
        F.col("s.b").cast("double").alias("trend_milli_d"),
        F.expr("(s.l + 7 * s.b) div 1000L").cast("double").alias("forecast7_kusd_d"),
    )


@register(
    "bson_source_roundtrip",
    """
    SELECT event_id, ts, CAST(user_id AS DOUBLE) AS user_id_d,
           event_type, value, props
    FROM events
    """,
)
def q_bson_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Mongo-side wire format (sources/bson_py.py — pure-Python
    BSON 1.1 per bsonspec.org, completing the wire family the reference
    touches through its Kafka-Connect Mongo sink,
    infra/connect/mongo-sink.json:4-11): events encode into canonical
    flat BSON documents (0x0A null, minimal-width int32/int64, double,
    string, length-checked framing) and decode back to typed columns.
    The parquet table is the oracle, so a hash match proves the
    round-trip lossless — including nullable user_id null semantics and
    double bit-exactness through the little-endian IEEE path. Narrow
    Arrow maps, no shuffle."""
    from ..sources import bson_py

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
    payloads = bson_py.encode_bson(wire_in, cols)
    decoded = bson_py.decode_bson(
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
    "user_trend_velocity",
    """
    WITH d AS (
      SELECT user_id,
             datediff('day', TIMESTAMP '2024-01-01',
                      date_trunc('day', ts)) AS x,
             sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS y
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
    r AS (
      SELECT user_id, x,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY x
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
    last AS (
      SELECT * FROM r
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY x DESC) = 1)
    SELECT user_id,
           CAST(x AS DOUBLE) AS last_x_d,
           CAST(n AS DOUBLE) AS n_obs_d,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST((n * sxy - sx * sy) * 1000000
                          // (n * sxx - sx * sx) AS DOUBLE) END
             AS slope_ppm_d
    FROM last
    """,
)
def q_user_trend_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CURRENT trend velocity: ordinary-least-squares slope of
    daily spend over each user's trailing 7 OBSERVED days, evaluated at
    their latest day — the 'is this user accelerating right now' signal
    that user_value_trend_fit's whole-history OLS smooths away. All
    four rolling moments (sx, sy, sxy, sxx) are exact BIGINT
    row-frame window sums in micro-units; the slope is the integer
    rational (n*sxy - sx*sy)*1e6 div (n*sxx - sx*sx) — shift-invariant
    in x, truncation identical cross-engine, NULL-guarded for the
    single-observation window (ANSI discipline). Scale: ONE shuffle on
    user_id serves the daily rollup, the row-frame window, and the
    max_by latest-pick — the frame is per-user day-bounded (calendar
    days, never event rows), and no partition-less window exists."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    daily = ev.groupBy(
        "user_id",
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("2024-01-01").cast("timestamp"),
        ).alias("x"),
    ).agg(
        F.sum(F.expr("CAST(floor(value * 1000000.0) AS BIGINT)")).alias("y")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-6, Window.currentRow)
    )
    roll = daily.select(
        "user_id",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.expr("x * y")).over(w).alias("sxy"),
        F.sum(F.expr("x * x")).over(w).alias("sxx"),
    )
    last = roll.groupBy("user_id").agg(
        F.max("x").alias("last_x"),
        F.max_by(F.struct("n", "sx", "sy", "sxy", "sxx"), "x").alias("s"),
    )
    den = F.col("s.n") * F.col("s.sxx") - F.col("s.sx") * F.col("s.sx")
    num = F.col("s.n") * F.col("s.sxy") - F.col("s.sx") * F.col("s.sy")
    return last.select(
        "user_id",
        F.col("last_x").cast("double").alias("last_x_d"),
        F.col("s.n").cast("double").alias("n_obs_d"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.expr(
            "CAST((s.n * s.sxy - s.sx * s.sy) * 1000000L"
            " div (s.n * s.sxx - s.sx * s.sx) AS DOUBLE)"
        ))
        .alias("slope_ppm_d"),
    )


@register(
    "thrift_source_roundtrip",
    """
    SELECT event_id, ts, CAST(user_id AS DOUBLE) AS user_id_d,
           event_type, value, props
    FROM events
    """,
)
def q_thrift_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RPC-world wire format (sources/thrift_py.py — pure-Python
    Apache Thrift COMPACT protocol per the public spec, tenth wire
    family member): events encode into canonical compact structs
    (4-bit field-id deltas, zigzag-ULEB128 integers, booleans packed in
    the header nibble, little-endian doubles, explicit STOP) and decode
    back to typed columns; nulls travel as omitted fields
    (field-presence semantics, the proto3 contract). The parquet table
    is the oracle, so a hash match proves the round-trip lossless.
    Narrow Arrow maps, no shuffle."""
    from ..sources import thrift_py

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
    payloads = thrift_py.encode_thrift(wire_in, cols)
    decoded = thrift_py.decode_thrift(
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


from .q02_textdedup import _SHINGLES_CTE  # noqa: E402


@register(
    "ngram_containment_pairs",
    _SHINGLES_CTE
    + """
    , ds AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    c AS (
      SELECT doc_a, doc_b,
             n_inter * 1000000 // na.n_sh AS cont_a_in_b_ppm,
             n_inter * 1000000 // nb.n_sh AS cont_b_in_a_ppm,
             n_inter * 1000000 // (na.n_sh + nb.n_sh - n_inter)
               AS jaccard_ppm
      FROM inter
      JOIN sizes na ON na.doc_id = doc_a
      JOIN sizes nb ON nb.doc_id = doc_b)
    SELECT * FROM c
    WHERE greatest(cont_a_in_b_ppm, cont_b_in_a_ppm) >= 900000
    """,
)
def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: Broder containment in integer ppm
    over the exact inverted shingle index (operators/text.py
    ngram_containment_pairs) — catches the excerpt/quotation dups whose
    Jaccard stays low because the union is source-dominated. Its pair
    counts are ngram_jaccard_pairs' own (text._pair_counts, kernel route
    included); only the ppm projection differs."""
    return text.ngram_containment_pairs(_t(spark, sf_dir, "documents"))


def _hilbert_oracle(bits: int = 16) -> str:
    """DuckDB mirror of the xy2d quadrant-rotation fold: the same
    scaling CTE as the zorder oracle, then one generated CTE per bit
    level replaying the identical reflect/swap/step CASEs (chained CTEs
    grow the SQL linearly; the Spark side is a runtime higher-order
    fold for the same reason)."""
    n_1 = (1 << bits) - 1
    sql = f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             epoch_us(l_shipdate) AS t, l_partkey AS p
      FROM lineitem),
    rng AS (SELECT min(t) AS tlo, max(t) AS thi,
                   min(p) AS plo, max(p) AS phi FROM li),
    h{bits} AS (
      SELECT l_orderkey, l_linenumber,
        least(CAST(floor(least(greatest(
            (CAST(t AS DOUBLE) - tlo) / (thi - tlo), 0.0), 1.0) * {1 << bits})
          AS BIGINT), {n_1}) AS x,
        least(CAST(floor(least(greatest(
            (CAST(p AS DOUBLE) - plo) / (phi - plo), 0.0), 1.0) * {1 << bits})
          AS BIGINT), {n_1}) AS y,
        CAST(0 AS BIGINT) AS d
      FROM li CROSS JOIN rng)"""
    for k in range(bits - 1, -1, -1):
        s = 1 << k
        sql += f""",
    h{k} AS (
      SELECT l_orderkey, l_linenumber,
        CASE WHEN (y & {s}) = 0 THEN
          (CASE WHEN (x & {s}) != 0 THEN {n_1} - y ELSE y END)
        ELSE x END AS x,
        CASE WHEN (y & {s}) = 0 THEN
          (CASE WHEN (x & {s}) != 0 THEN {n_1} - x ELSE x END)
        ELSE y END AS y,
        d + CAST({s * s} AS BIGINT) * (CASE
          WHEN (x & {s}) = 0 AND (y & {s}) = 0 THEN 0
          WHEN (x & {s}) = 0 THEN 1
          WHEN (y & {s}) != 0 THEN 2
          ELSE 3 END) AS d
      FROM h{k + 1})"""
    sql += f"""
    SELECT l_orderkey, l_linenumber, d AS hindex FROM h0"""
    return sql


@register("hilbert_layout", _hilbert_oracle(16))
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout key over (ship time, part key) — the
    better-locality twin of zorder_layout: no Morton diagonal jumps, so
    consecutive key ranges map to tighter (t, p) blocks and min/max
    file stats prune harder on range predicates (the reason Delta grew
    HILBERT clustering next to ZORDER). Identical deterministic scaling
    (exact min/max bounds broadcast from a one-row aggregate); the
    xy2d fold runs as one higher-order aggregate (bucketing.py
    hilbert_index), replayed level-by-level by the oracle's generated
    CTEs. Locality vs Z-order is pinned quantitatively in
    tests/test_round7c.py."""
    from ..operators import bucketing

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.unix_micros("l_shipdate").alias("t"),
        F.col("l_partkey").alias("p"),
    )
    rng = li.agg(
        F.min("t").alias("tlo"), F.max("t").alias("thi"),
        F.min("p").alias("plo"), F.max("p").alias("phi"),
    )
    both = li.crossJoin(F.broadcast(rng))
    return bucketing.hilbert_index(
        both, F.col("t"), F.col("p"),
        a_min=F.col("tlo"), a_max=F.col("thi"),
        b_min=F.col("plo"), b_max=F.col("phi"),
    ).select("l_orderkey", "l_linenumber", "hindex")


@register(
    "session_concurrency_profile",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tm
      FROM events WHERE user_id IS NOT NULL),
    flags AS (
      SELECT user_id, tm,
             CASE WHEN tm - lag(tm) OVER (PARTITION BY user_id ORDER BY tm)
                    > 1800000000 OR
                  lag(tm) OVER (PARTITION BY user_id ORDER BY tm) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM e),
    sess AS (
      SELECT user_id, tm,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY tm
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags),
    spans AS (
      SELECT user_id, sid,
             min(tm) // 60000000 AS m0, max(tm) // 60000000 AS m1
      FROM sess GROUP BY 1, 2),
    mins AS (
      SELECT unnest(range(m0, m1 + 1)) AS minute FROM spans),
    per_min AS (
      SELECT minute, count(*) AS active FROM mins GROUP BY 1)
    SELECT CAST(minute // 1440 AS DOUBLE) AS day_d,
           CAST(count(*) AS DOUBLE) AS minutes_active_d,
           CAST(max(active) AS DOUBLE) AS peak_concurrent_d,
           CAST(sum(active) AS DOUBLE) AS session_minutes_d
    FROM per_min GROUP BY 1
    """,
)
def q_session_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day session concurrency profile — the capacity-planning view
    (how many users are ACTIVE at once, not how many events arrive):
    30-minute-gap sessions (exact MICROSECOND gap arithmetic — the
    session_event_paths discipline) exploded onto a minute grid, then
    per-minute active counts rolled to day peak/total. This is the
    sweep-line problem solved WITHOUT a global time sort: the session
    pass partitions by user, the grid join is an explode bounded by
    session length in minutes, and the day rollup is an ordinary
    map-side-combined groupBy — no partition-less window anywhere (the
    r6-verdict scale rule). Integer micros/minutes end to end."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    e = ev.select("user_id", F.unix_micros("ts").alias("tm"))
    w = Window.partitionBy("user_id").orderBy("tm")
    flags = e.select(
        "user_id",
        "tm",
        F.when(
            (F.col("tm") - F.lag("tm").over(w) > 1_800_000_000)
            | F.lag("tm").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = flags.select(
        "user_id",
        "tm",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
    )
    spans = sess.groupBy("user_id", "sid").agg(
        F.expr("min(tm) div 60000000L").alias("m0"),
        F.expr("max(tm) div 60000000L").alias("m1"),
    )
    mins = spans.select(
        F.explode(F.sequence(F.col("m0"), F.col("m1"))).alias("minute")
    )
    per_min = mins.groupBy("minute").agg(F.count(F.lit(1)).alias("active"))
    return per_min.groupBy(
        F.expr("minute div 1440L").cast("double").alias("day_d")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("minutes_active_d"),
        F.max("active").cast("double").alias("peak_concurrent_d"),
        F.sum("active").cast("double").alias("session_minutes_d"),
    )


@register(
    "decision_stump_embedding",
    """
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
      FROM embeddings),
    q AS (
      SELECT vec_id, y, i - 1 AS dim,
             CAST(floor(e[i] * 1000000.0) AS BIGINT) AS v
      FROM emb CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ix),
    hist AS (
      SELECT dim, v, count(*) AS cnt, sum(y) AS pos
      FROM q GROUP BY 1, 2),
    bounds AS (
      SELECT dim, min(v) AS lo, max(v) AS hi,
             sum(cnt) AS n, sum(pos) AS p
      FROM hist GROUP BY 1),
    grid AS (
      SELECT DISTINCT dim, n, p,
             lo + ((hi - lo) * j) // 16 AS thr
      FROM bounds CROSS JOIN (SELECT unnest(generate_series(1, 15)) AS j) js),
    split AS (
      SELECT g.dim, g.thr, g.n, g.p,
             sum(CASE WHEN h.v <= g.thr THEN h.cnt ELSE 0 END) AS n_l,
             sum(CASE WHEN h.v <= g.thr THEN h.pos ELSE 0 END) AS p_l
      FROM grid g JOIN hist h ON h.dim = g.dim
      GROUP BY 1, 2, 3, 4),
    scored AS (
      SELECT dim, thr, n, n_l,
             (CASE WHEN n_l = 0 THEN 0
                   ELSE p_l * (n_l - p_l) * 1000000 // n_l END)
             + (CASE WHEN n - n_l = 0 THEN 0
                     ELSE (p - p_l) * ((n - n_l) - (p - p_l)) * 1000000
                          // (n - n_l) END) AS cost_ppm,
             greatest(p_l, n_l - p_l)
               + greatest(p - p_l, (n - n_l) - (p - p_l)) AS correct
      FROM split),
    best AS (
      SELECT * FROM scored
      ORDER BY cost_ppm, dim, thr LIMIT 1)
    SELECT CAST(dim AS DOUBLE) AS dim_d,
           CAST(thr AS DOUBLE) AS thr_micro_d,
           CAST(cost_ppm AS DOUBLE) AS cost_ppm_d,
           CAST(n_l AS DOUBLE) AS n_left_d,
           CAST(correct * 1000000 // n AS DOUBLE) AS train_acc_ppm_d
    FROM best
    """,
)
def q_decision_stump_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision stump (depth-1 CART) over the embedding corpus,
    predicting the binary coarse label (label < 5): every candidate
    split on a 64-dim x 15-threshold grid is scored by EXACT INTEGER
    weighted Gini (p_l*(n_l-p_l)*1e6 div n_l per side — the 2/n scaling
    dropped, argmin-invariant), argmin tie-broken on (dim, thr), so the
    fitted stump is engine- and partitioning-exact — the inductive-ML
    counterpart of the fixed-point k-means discipline. Thresholds are a
    deterministic integer grid between each dim's exact min/max (no
    quantile pass). Scale shape: ONE posexplode pass builds the
    per-(dim, value) HISTOGRAM (map-side combined; the split scan then
    touches the histogram, never the corpus), the candidate aggregate
    is 64 x 15 rows, and selection is a 1-row TakeOrderedAndProject.
    At petabyte counts the ppm products need DECIMAL(38) — documented,
    not silently wrong (BIGINT is exact through ~1e6 positives here).
    Reference parity: train-then-score (train.py:288-372) has no
    in-engine trainer; this is the north-star extension."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
        ).alias("qv"),
        F.expr("CASE WHEN label < 5 THEN 1 ELSE 0 END").alias("y"),
    )
    q = emb.select("vec_id", "y", F.posexplode("qv").alias("dim", "v"))
    hist = q.groupBy("dim", "v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    bounds = hist.groupBy("dim").agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.sum("cnt").alias("n"),
        F.sum("pos").alias("p"),
    )
    grid = bounds.crossJoin(
        spark.range(1, 16).select(F.col("id").alias("j"))
    ).select(
        "dim", "n", "p", F.expr("lo + ((hi - lo) * j) div 16").alias("thr")
    ).distinct()  # narrow dims repeat thresholds (see ml/linear.py fix)
    split = (
        grid.join(hist, "dim")
        .groupBy("dim", "thr", "n", "p")
        .agg(
            F.sum(F.expr("CASE WHEN v <= thr THEN cnt ELSE 0 END")).alias("n_l"),
            F.sum(F.expr("CASE WHEN v <= thr THEN pos ELSE 0 END")).alias("p_l"),
        )
    )
    scored = split.select(
        "dim",
        "thr",
        "n",
        "n_l",
        (
            F.expr(
                "CASE WHEN n_l = 0 THEN 0L"
                " ELSE p_l * (n_l - p_l) * 1000000L div n_l END"
            )
            + F.expr(
                "CASE WHEN n - n_l = 0 THEN 0L"
                " ELSE (p - p_l) * ((n - n_l) - (p - p_l)) * 1000000L"
                " div (n - n_l) END"
            )
        ).alias("cost_ppm"),
        F.expr(
            "greatest(p_l, n_l - p_l)"
            " + greatest(p - p_l, (n - n_l) - (p - p_l))"
        ).alias("correct"),
    )
    best = scored.orderBy("cost_ppm", "dim", "thr").limit(1)
    return best.select(
        F.col("dim").cast("double").alias("dim_d"),
        F.col("thr").cast("double").alias("thr_micro_d"),
        F.col("cost_ppm").cast("double").alias("cost_ppm_d"),
        F.col("n_l").cast("double").alias("n_left_d"),
        F.expr("correct * 1000000L div n").cast("double").alias("train_acc_ppm_d"),
    )


def _perceptron_oracle(epochs: int = 4) -> str:
    """Unrolled batch-perceptron oracle: epoch k's CTE trio
    (scores / misclassified / weight update) is generated mechanically;
    every quantity is an exact BIGINT aggregate, so DuckDB replays
    Spark's trajectory bit-for-bit (the pagerank/kmeans discipline
    applied to a linear separator)."""
    sql = """
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             CASE WHEN label < 5 THEN 1 ELSE -1 END AS y
      FROM embeddings),
    px AS (
      SELECT vec_id, y, i - 1 AS pos,
             CASE WHEN i <= 64
                  THEN CAST(floor(e[i] * 1000000.0) AS BIGINT)
                  ELSE CAST(1000000 AS BIGINT) END AS xv
      FROM emb CROSS JOIN (SELECT unnest(generate_series(1, 65)) AS i) ix),
    nn AS (SELECT count(*) AS c FROM emb),
    w0 AS (SELECT unnest(generate_series(0, 64)) AS pos,
                  CAST(0 AS BIGINT) AS wv)"""
    for k in range(epochs + 1):
        sql += f""",
    s{k} AS (
      SELECT p.vec_id, p.y, sum(p.xv * w.wv) AS s
      FROM px p JOIN w{k} w USING (pos) GROUP BY 1, 2),
    m{k} AS (SELECT vec_id FROM s{k} WHERE y * s <= 0)"""
        if k < epochs:
            sql += f""",
    u{k} AS (
      SELECT p.pos, sum(p.y * p.xv) AS dv
      FROM px p JOIN m{k} USING (vec_id) GROUP BY 1),
    w{k + 1} AS (
      SELECT w.pos, w.wv + coalesce(u.dv, 0) AS wv
      FROM w{k} w LEFT JOIN u{k} u USING (pos))"""
    stats = "\n      UNION ALL ".join(
        f"SELECT {k} AS epoch, (SELECT count(*) FROM m{k}) AS n_mis"
        for k in range(epochs + 1)
    )
    sql += f""",
    stats AS ({stats})
    SELECT CAST(epoch AS DOUBLE) AS epoch_d,
           CAST(n_mis AS DOUBLE) AS n_mis_d,
           CAST(((c - n_mis) * 1000000) // c AS DOUBLE) AS acc_ppm_d
    FROM stats CROSS JOIN nn ORDER BY 1"""
    return sql


@register("perceptron_embedding_trajectory", _perceptron_oracle(4))
def q_perceptron_embedding_trajectory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch perceptron trained IN-ENGINE on the embedding corpus
    (binary coarse label, 4 epochs) with the full per-epoch trajectory
    hash-checked: order-free integer epoch updates make a linear
    classifier's training exactly reproducible across engines and
    partitionings (ml/linear.py batch_perceptron_trajectory) — the
    third member of the exact-training family next to fixed-point
    k-means and the integer-Gini stump. Broadcast 65-row weight frame,
    checkpointed exploded features, two map-side-combined aggregates
    per epoch."""
    from ..ml import linear

    return linear.batch_perceptron_trajectory(
        _t(spark, sf_dir, "embeddings"), epochs=4
    )


_EVENT_STUMP_ORACLE = """
WITH base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v0,
         CAST(hour(ts) AS BIGINT) AS v1,
         datediff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts)) AS dx
  FROM events),
q AS (
  SELECT 0 AS fid, v0 AS v, y FROM base
  UNION ALL SELECT 1, v1, y FROM base
  UNION ALL SELECT 2, CAST(dx % 7 AS BIGINT), y FROM base
  UNION ALL SELECT 3, CAST(dx AS BIGINT), y FROM base),
hist AS (SELECT fid, v, count(*) AS cnt, sum(y) AS pos FROM q GROUP BY 1, 2),
bounds AS (
  SELECT fid, min(v) AS lo, max(v) AS hi, sum(cnt) AS n, sum(pos) AS p
  FROM hist GROUP BY 1),
grid AS (
  SELECT DISTINCT fid, n, p, lo + ((hi - lo) * j) // 16 AS thr
  FROM bounds CROSS JOIN (SELECT unnest(generate_series(1, 15)) AS j) js),
split AS (
  SELECT g.fid, g.thr, g.n, g.p,
         sum(CASE WHEN h.v <= g.thr THEN h.cnt ELSE 0 END) AS n_l,
         sum(CASE WHEN h.v <= g.thr THEN h.pos ELSE 0 END) AS p_l
  FROM grid g JOIN hist h ON h.fid = g.fid
  GROUP BY 1, 2, 3, 4),
scored AS (
  SELECT fid, thr, n, n_l,
         (CASE WHEN n_l = 0 THEN 0
               ELSE p_l * (n_l - p_l) * 1000000 // n_l END)
         + (CASE WHEN n - n_l = 0 THEN 0
                 ELSE (p - p_l) * ((n - n_l) - (p - p_l)) * 1000000
                      // (n - n_l) END) AS cost_ppm,
         greatest(p_l, n_l - p_l)
           + greatest(p - p_l, (n - n_l) - (p - p_l)) AS correct
  FROM split),
best AS (SELECT * FROM scored ORDER BY cost_ppm, fid, thr LIMIT 1)
SELECT CAST(fid AS DOUBLE) AS fid_d,
       CAST(thr AS DOUBLE) AS thr_d,
       CAST(cost_ppm AS DOUBLE) AS cost_ppm_d,
       CAST(n_l AS DOUBLE) AS n_left_d,
       CAST(correct * 1000000 // n AS DOUBLE) AS train_acc_ppm_d
FROM best
"""


def _event_stump_features(ev: DataFrame) -> DataFrame:
    """(fid, v, y) feature rows for the purchase-prediction stump:
    value micro-units, hour of day, day of week as (day index mod 7 —
    engine-independent, unlike dayofweek()'s origin conventions), and
    the day index itself."""
    base = ev.select(
        F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END").alias("y"),
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("v0"),
        F.hour("ts").cast("long").alias("v1"),
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("2024-01-01").cast("timestamp"),
        ).alias("dx"),
    )
    return base.selectExpr(
        "stack(4, 0, v0, 1, v1, 2, CAST(dx % 7 AS BIGINT),"
        " 3, CAST(dx AS BIGINT)) AS (fid, v)",
        "y",
    )


@register("decision_stump_events", _EVENT_STUMP_ORACLE)
def q_decision_stump_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-prediction stump over behavioral event features (value,
    hour, weekday, day index) — the factored exact integer-Gini fitter
    (ml/linear.py fit_stump) applied to a stack()-unpivoted feature
    frame. Same determinism and histogram-first scale shape as
    decision_stump_embedding; the weekday feature uses day-index mod 7
    (dayofweek() origins differ across engines)."""
    from ..ml import linear

    ev = _t(spark, sf_dir, "events")
    return linear.fit_stump(_event_stump_features(ev))


@register("streaming_stump_ingest", _EVENT_STUMP_ORACLE)
def q_streaming_stump_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance path of the stump: the event replay emits
    STATELESS (fid, v, y) feature rows — the stump's (fid, v) histogram
    is an additive sufficient statistic, so the drained feature stream
    fits EXACTLY the batch stump (oracle identical). This is continuous
    in-engine model maintenance: the materialized histogram replaces
    the corpus scan and only ever ADDS (the streaming_auc_ingest
    contract applied to a trainable model)."""
    from ..ml import linear

    stream = _replay_events(spark, sf_dir)
    feats = _event_stump_features(stream)
    drained = stream_sinks.run_to_memory(
        feats, f"reg_stream_stump_{next(_STREAM_SEQ)}"
    )
    return linear.fit_stump(drained)


def _stump_chain_sql(sfx: str, where: str) -> str:
    """The stump CTE chain over the event feature base, name-suffixed
    and row-filtered — generated once per tree node so the depth-2
    oracle replays the exact recursive fit (same algebra as
    _EVENT_STUMP_ORACLE, parameterized)."""
    return f"""
    q{sfx} AS (
      SELECT 0 AS fid, v0 AS v, y FROM base {where}
      UNION ALL SELECT 1, v1, y FROM base {where}
      UNION ALL SELECT 2, CAST(dx % 7 AS BIGINT), y FROM base {where}
      UNION ALL SELECT 3, CAST(dx AS BIGINT), y FROM base {where}),
    hist{sfx} AS (
      SELECT fid, v, count(*) AS cnt, sum(y) AS pos
      FROM q{sfx} GROUP BY 1, 2),
    bounds{sfx} AS (
      SELECT fid, min(v) AS lo, max(v) AS hi, sum(cnt) AS n, sum(pos) AS p
      FROM hist{sfx} GROUP BY 1),
    grid{sfx} AS (
      SELECT DISTINCT fid, n, p, lo + ((hi - lo) * j) // 16 AS thr
      FROM bounds{sfx}
      CROSS JOIN (SELECT unnest(generate_series(1, 15)) AS j) js),
    split{sfx} AS (
      SELECT g.fid, g.thr, g.n, g.p,
             sum(CASE WHEN h.v <= g.thr THEN h.cnt ELSE 0 END) AS n_l,
             sum(CASE WHEN h.v <= g.thr THEN h.pos ELSE 0 END) AS p_l
      FROM grid{sfx} g JOIN hist{sfx} h ON h.fid = g.fid
      GROUP BY 1, 2, 3, 4),
    scored{sfx} AS (
      SELECT fid, thr, n, n_l,
             (CASE WHEN n_l = 0 THEN 0
                   ELSE p_l * (n_l - p_l) * 1000000 // n_l END)
             + (CASE WHEN n - n_l = 0 THEN 0
                     ELSE (p - p_l) * ((n - n_l) - (p - p_l)) * 1000000
                          // (n - n_l) END) AS cost_ppm,
             greatest(p_l, n_l - p_l)
               + greatest(p - p_l, (n - n_l) - (p - p_l)) AS correct
      FROM split{sfx}),
    best{sfx} AS (
      SELECT * FROM scored{sfx} ORDER BY cost_ppm, fid, thr LIMIT 1)"""


_ROOT_FEATURE = """(CASE (SELECT fid FROM best_r)
      WHEN 0 THEN v0 WHEN 1 THEN v1
      WHEN 2 THEN CAST(dx % 7 AS BIGINT)
      ELSE CAST(dx AS BIGINT) END)"""

_TREE2_ORACLE = (
    """
    WITH base AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(floor(value * 1000000.0) AS BIGINT) AS v0,
             CAST(hour(ts) AS BIGINT) AS v1,
             datediff('day', TIMESTAMP '2024-01-01',
                      date_trunc('day', ts)) AS dx
      FROM events),"""
    + _stump_chain_sql("_r", "")
    + ","
    + _stump_chain_sql(
        "_l", f"WHERE {_ROOT_FEATURE} <= (SELECT thr FROM best_r)"
    )
    + ","
    + _stump_chain_sql(
        "_rt", f"WHERE {_ROOT_FEATURE} > (SELECT thr FROM best_r)"
    )
    + """
    SELECT node, CAST(fid AS DOUBLE) AS fid_d, CAST(thr AS DOUBLE) AS thr_d,
           CAST(cost_ppm AS DOUBLE) AS cost_ppm_d,
           CAST(n_l AS DOUBLE) AS n_left_d,
           CAST(correct * 1000000 // n AS DOUBLE) AS train_acc_ppm_d
    FROM (
      SELECT 'root' AS node, * FROM best_r
      UNION ALL SELECT 'left', * FROM best_l
      UNION ALL SELECT 'right', * FROM best_rt)
    ORDER BY node
    """
)


def _event_stump_base(ev: DataFrame) -> DataFrame:
    """Wide (y, v0, v1, dx) feature base shared by the stump and the
    depth-2 tree (the tree filters it by the fitted root predicate)."""
    return ev.select(
        F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END").alias("y"),
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("v0"),
        F.hour("ts").cast("long").alias("v1"),
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("2024-01-01").cast("timestamp"),
        ).alias("dx"),
    )


def _stack_features(base: DataFrame) -> DataFrame:
    return base.selectExpr(
        "stack(4, 0, v0, 1, v1, 2, CAST(dx % 7 AS BIGINT),"
        " 3, CAST(dx AS BIGINT)) AS (fid, v)",
        "y",
    )


@register("decision_tree_depth2_events", _TREE2_ORACLE)
def q_decision_tree_depth2_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 CART over the behavioral features: the exact integer-Gini
    stump applied RECURSIVELY — fit the root, partition the corpus by
    its predicate, fit one stump per side. The root split is a 1-row
    driver-bounded collect (the BPE-argmax discipline: a scalar
    decision the next distributed stage is parameterized by); children
    fit in parallel on filtered frames with the identical histogram
    algebra, so the whole tree is engine- and partitioning-exact and
    the oracle replays the recursion as three generated stump chains
    (the children's WHERE clauses reference the root's fitted split).
    Output: one row per node (root/left/right) with split and
    per-node training accuracy."""
    from ..ml import linear

    base = _event_stump_base(_t(spark, sf_dir, "events"))
    root = linear.fit_stump(_stack_features(base)).collect()[0]
    fid, thr = int(root["fid_d"]), int(root["thr_d"])
    pred = F.expr(
        f"(CASE {fid} WHEN 0 THEN v0 WHEN 1 THEN v1"
        f" WHEN 2 THEN CAST(dx % 7 AS BIGINT)"
        f" ELSE CAST(dx AS BIGINT) END) <= {thr}L"
    )
    left = linear.fit_stump(_stack_features(base.where(pred)))
    right = linear.fit_stump(_stack_features(base.where(~pred)))
    root_df = linear.fit_stump(_stack_features(base))
    out = (
        root_df.select(F.lit("root").alias("node"), "*")
        .unionByName(left.select(F.lit("left").alias("node"), "*"))
        .unionByName(right.select(F.lit("right").alias("node"), "*"))
    )
    return out.orderBy("node")


@register(
    "knn_loo_classification",
    """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e, label
                 FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.vec_id AS neighbor_id, c.label AS nb_label,
             round(list_dot_product(q.e, c.e)
                   / (sqrt(list_dot_product(q.e, q.e))
                      * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
      FROM emb q JOIN emb c ON c.vec_id != q.vec_id),
    top5 AS (
      SELECT * FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) <= 5),
    votes AS (
      SELECT query_id, true_label, nb_label, count(*) AS cnt
      FROM top5 GROUP BY 1, 2, 3),
    pred AS (
      SELECT query_id, true_label, nb_label AS pred_label FROM votes
      QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY cnt DESC, nb_label ASC) = 1)
    SELECT CAST(true_label AS DOUBLE) AS class_d,
           CAST(count(*) AS DOUBLE) AS n_d,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS DOUBLE) AS correct_d,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS DOUBLE) AS acc_ppm_d
    FROM pred GROUP BY 1
    """,
)
def q_knn_loo_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN cosine classification report per class — the
    embedding-quality eval that tells you whether the space clusters by
    label BEFORE you spend a training run (the kNN-probe standard).
    Self-exclusion IS the leave-one-out; majority vote ties break to
    the smallest label, neighbor ranks tie on (cosine 6dp desc, id) —
    fully deterministic, so the report is exactly hash-checked. Scale:
    this registration is the all-pairs oracle baseline (corpus
    broadcast, the embedding_topk_bruteforce contract); the serve-shape
    twin is the IVF/PQ family — at 100 TB the probe runs on a sample or
    through the ANN index, trading the documented recall gap. The
    per-query windows partition by query_id (never global)."""
    emb = _t(spark, sf_dir, "embeddings")
    nb = similarity.brute_force_topk(emb, n_queries=1 << 60, k=5)
    labels = emb.select("vec_id", F.col("label").cast("long").alias("lbl"))
    votes = (
        nb.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("lbl").alias("nb_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "nb_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cnt").desc(), F.col("nb_label").asc()
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("nb_label").alias("pred_label"))
    )
    joined = pred.join(
        labels.select(
            F.col("vec_id").alias("query_id"), F.col("lbl").alias("true_label")
        ),
        "query_id",
    )
    return joined.groupBy(
        F.col("true_label").cast("double").alias("class_d")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_d"),
        F.sum(
            F.expr("CASE WHEN pred_label = true_label THEN 1 ELSE 0 END")
        )
        .cast("double")
        .alias("correct_d"),
        F.expr(
            "sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)"
            " * 1000000L div count(*)"
        )
        .cast("double")
        .alias("acc_ppm_d"),
    )


def _golden_record_oracle() -> str:
    """Nest the VERIFIED part_entity_groups statement (composition
    rule) and state survivorship in closed form."""
    groups_sql = _REGISTRY["part_entity_groups"].oracle
    return f"""
    WITH grp AS (
      SELECT p_name, entity_id FROM ({groups_sql}) q),
    members AS (
      SELECT g.entity_id, p.p_partkey, p.p_brand, p.p_type,
             CAST(floor(p.p_retailprice * 100.0) AS BIGINT) AS cents
      FROM grp g JOIN part p ON p.p_name = g.p_name),
    agg AS (
      SELECT entity_id,
             count(*) AS n_members,
             min(p_partkey) AS survivor,
             min(cents) AS price_min_cents,
             max(cents) AS price_max_cents,
             count(DISTINCT p_brand) AS n_brands,
             count(DISTINCT p_type) AS n_types
      FROM members GROUP BY 1)
    SELECT entity_id,
           CAST(n_members AS DOUBLE) AS n_members_d,
           CAST(survivor AS DOUBLE) AS survivor_partkey_d,
           CAST(price_min_cents AS DOUBLE) AS price_min_cents_d,
           CAST(price_max_cents AS DOUBLE) AS price_max_cents_d,
           CAST(n_brands AS DOUBLE) AS n_brands_d,
           CAST(n_types AS DOUBLE) AS n_types_d
    FROM agg WHERE n_members >= 2
    """


@register("entity_golden_record", _golden_record_oracle())
def q_entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge over the resolved entity groups — the MDM
    step after entity resolution: every multi-member entity gets ONE
    golden record with a deterministic survivor (min partkey), exact
    price spread in cents (same entity priced differently is the
    classic catalog-quality finding), and brand/type disagreement
    counts. Composes the VERIFIED part_entity_groups stage (nested
    whole, per the composition rule); the member join is name-keyed
    (multiple partkeys share a fuzzy-matched name), aggregation is one
    map-side-combined groupBy on entity_id."""
    groups = _REGISTRY["part_entity_groups"].spark(spark, sf_dir).select(
        "p_name", "entity_id"
    )
    part = _t(spark, sf_dir, "part").select(
        "p_name",
        "p_partkey",
        "p_brand",
        "p_type",
        F.expr("CAST(floor(p_retailprice * 100.0) AS BIGINT)").alias("cents"),
    )
    members = groups.join(part, "p_name")
    agg = members.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("p_partkey").alias("survivor"),
        F.min("cents").alias("price_min_cents"),
        F.max("cents").alias("price_max_cents"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.countDistinct("p_type").alias("n_types"),
    )
    return agg.where(F.col("n_members") >= 2).select(
        "entity_id",
        F.col("n_members").cast("double").alias("n_members_d"),
        F.col("survivor").cast("double").alias("survivor_partkey_d"),
        F.col("price_min_cents").cast("double").alias("price_min_cents_d"),
        F.col("price_max_cents").cast("double").alias("price_max_cents_d"),
        F.col("n_brands").cast("double").alias("n_brands_d"),
        F.col("n_types").cast("double").alias("n_types_d"),
    )


def _qsketch_audit_oracle() -> str:
    """Nest the VERIFIED quantile_sketch_events statement and compare
    each estimate against the EXACT order statistic from the cents
    histogram (same rank convention), asserting the bucket-width error
    bound as a checked column."""
    from .q07_layoutcorpus import _QSKETCH_WIDTH

    sketch_sql = _REGISTRY["quantile_sketch_events"].oracle
    return f"""
    WITH sk AS (
      SELECT event_type, q, est FROM ({sketch_sql}) s),
    cells AS (
      SELECT event_type, CAST(floor(value * 100.0) AS BIGINT) AS cents,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT event_type, cents, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS n_total
      FROM cells),
    qs AS (SELECT DISTINCT q FROM sk),
    r AS (
      SELECT c.*, q,
             CAST(floor(q * (n_total - 1)) + 1 AS BIGINT) AS rnk
      FROM c CROSS JOIN qs),
    exact AS (
      SELECT event_type, q, cents AS exact_cents
      FROM r WHERE cum - n < rnk AND rnk <= cum)
    SELECT s.event_type, s.q, s.est,
           CAST(e.exact_cents AS DOUBLE) AS exact_cents_d,
           CAST(CASE WHEN abs(s.est * 100.0 - e.exact_cents)
                     <= {_QSKETCH_WIDTH} * 100.0 + 100.0
                THEN 1 ELSE 0 END AS DOUBLE) AS within_band_d
    FROM sk s JOIN exact e USING (event_type, q)
    """


@register("quantile_sketch_accuracy", _qsketch_audit_oracle())
def q_quantile_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy audit of the mergeable quantile sketch: every estimate
    sits next to the EXACT order statistic (cents histogram + the
    bounded cum-count rank idiom — no global sort) and a checked
    bucket-width error band. The sketch family's approximation error is
    itself exactly hash-checked — the audit a 100 TB pipeline runs on a
    sample before trusting the sketch fleet-wide. Both stages compose
    verified statements (nested whole, per the composition rule)."""
    from ..operators import topk as topk_mod
    from .q07_layoutcorpus import _QSKETCH_QS, _QSKETCH_WIDTH

    sketch = _REGISTRY["quantile_sketch_events"].spark(spark, sf_dir).select(
        "event_type", "q", "est"
    )
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.expr("CAST(floor(value * 100.0) AS BIGINT)").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.partitionBy("event_type").orderBy("cents")
    w_tot = Window.partitionBy("event_type")
    c = cells.select(
        "event_type",
        "cents",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("n_total"),
    )
    qs = spark.createDataFrame([(q,) for q in _QSKETCH_QS], "q double")
    r = c.crossJoin(F.broadcast(qs)).withColumn(
        "rnk", F.expr("CAST(floor(q * (n_total - 1)) + 1 AS BIGINT)")
    )
    exact = r.where(
        (F.col("cum") - F.col("n") < F.col("rnk"))
        & (F.col("rnk") <= F.col("cum"))
    ).select("event_type", "q", F.col("cents").alias("exact_cents"))
    return sketch.join(exact, ["event_type", "q"]).select(
        "event_type",
        "q",
        "est",
        F.col("exact_cents").cast("double").alias("exact_cents_d"),
        F.expr(
            f"CAST(CASE WHEN abs(est * 100.0 - exact_cents)"
            f" <= {_QSKETCH_WIDTH} * 100.0 + 100.0"
            " THEN 1 ELSE 0 END AS DOUBLE)"
        ).alias("within_band_d"),
    )


@register(
    "cdc_join_view_maintenance",
    """
    WITH post AS (
      SELECT c_custkey,
             CAST(floor((CASE WHEN c_custkey % 7 = 0
                              THEN c_acctbal + 100
                              ELSE c_acctbal END) * 100.0) AS BIGINT)
               AS bal_cents
      FROM customer WHERE c_custkey % 13 <> 0),
    oc AS (
      SELECT o_custkey, count(*) AS n_ord,
             sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS rev_cents
      FROM orders GROUP BY 1),
    mv AS (
      SELECT p.c_custkey % 10 AS bucket,
             sum(o.n_ord) AS n_orders,
             sum(o.rev_cents) AS rev_cents,
             sum(p.bal_cents * o.n_ord) AS wbal_cents
      FROM post p JOIN oc o ON o.o_custkey = p.c_custkey
      GROUP BY 1)
    SELECT CAST(bucket AS DOUBLE) AS bucket_d,
           CAST(n_orders AS DOUBLE) AS n_orders_d,
           CAST(rev_cents AS DOUBLE) AS rev_cents_d,
           CAST(wbal_cents AS DOUBLE) AS wbal_cents_d
    FROM mv
    """,
)
def q_cdc_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE of a join-aggregate materialization
    under the CDC changelog — the delta-rule discipline
    (dMV = dR ⋈ S, never a re-join of the full base): the per-bucket
    view sum(orders), sum(revenue), sum(balance-weighted orders) over
    orders ⋈ customer is built ONCE from the snapshot reads, then
    maintained purely from change rows — updates contribute
    (0, 0, d_bal x n_orders(key)) and deletes retract the key's full
    contribution at its CURRENT maintained balance (snapshot + prior
    update deltas — real IVM trusts its state, not the envelope's
    before-image, which this synthetic changelog deliberately fabricates
    for never-updated keys). The maintained result must equal the
    closed-form post-state join the oracle states — that equality IS
    incremental-maintenance correctness. All money in exact cents;
    delta-of-floors telescopes so base + deltas reproduces the
    post-state floor exactly. Scale: the changelog joins only the
    per-customer order AGGREGATE (one groupBy of orders, broadcastable
    delta frames) — the full join never re-executes."""
    env = _customer_envelope(spark, sf_dir)
    oc = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_ord"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100.0) AS BIGINT)")
            ).alias("rev_cents"),
        )
    )
    snap = env.where(F.col("op") == "r").select(
        F.col("after.c_custkey").alias("c_custkey"),
        F.expr(
            "CAST(floor(after.c_acctbal * 100.0) AS BIGINT)"
        ).alias("bal_cents"),
    )
    upd = env.where(F.col("op") == "u").select(
        F.col("after.c_custkey").alias("c_custkey"),
        F.expr(
            "CAST(floor(after.c_acctbal * 100.0) AS BIGINT)"
            " - CAST(floor(before.c_acctbal * 100.0) AS BIGINT)"
        ).alias("d_bal"),
    )
    dele = env.where(F.col("op") == "d").select(
        F.col("before.c_custkey").alias("c_custkey")
    )
    # base view contribution per customer (snapshot x order aggregate)
    base = snap.join(oc, "c_custkey").select(
        "c_custkey",
        F.expr("c_custkey % 10").alias("bucket"),
        "n_ord",
        "rev_cents",
        (F.col("bal_cents") * F.col("n_ord")).alias("wbal_cents"),
        "bal_cents",
    )
    # update deltas: only the weighted-balance component moves
    d_upd = upd.join(oc, "c_custkey").select(
        F.expr("c_custkey % 10").alias("bucket"),
        F.lit(0).cast("long").alias("n_ord"),
        F.lit(0).cast("long").alias("rev_cents"),
        (F.col("d_bal") * F.col("n_ord")).alias("wbal_cents"),
    )
    # delete retractions at the MAINTAINED balance (snapshot + deltas)
    cur_bal = (
        snap.join(upd.groupBy("c_custkey").agg(F.sum("d_bal").alias("db")),
                  "c_custkey", "left")
        .select(
            "c_custkey",
            (F.col("bal_cents") + F.coalesce("db", F.lit(0).cast("long")))
            .alias("cur_cents"),
        )
    )
    d_del = (
        dele.join(cur_bal, "c_custkey")
        .join(oc, "c_custkey")
        .select(
            F.expr("c_custkey % 10").alias("bucket"),
            (-F.col("n_ord")).alias("n_ord"),
            (-F.col("rev_cents")).alias("rev_cents"),
            (-F.col("cur_cents") * F.col("n_ord")).alias("wbal_cents"),
        )
    )
    all_parts = (
        base.select("bucket", "n_ord", "rev_cents", "wbal_cents")
        .unionByName(d_upd)
        .unionByName(d_del)
    )
    mv = all_parts.groupBy("bucket").agg(
        F.sum("n_ord").alias("n_orders"),
        F.sum("rev_cents").alias("rev_cents"),
        F.sum("wbal_cents").alias("wbal_cents"),
    )
    return mv.select(
        F.col("bucket").cast("double").alias("bucket_d"),
        F.col("n_orders").cast("double").alias("n_orders_d"),
        F.col("rev_cents").cast("double").alias("rev_cents_d"),
        F.col("wbal_cents").cast("double").alias("wbal_cents_d"),
    )


@register(
    "streaming_cdc_join_view",
    _REGISTRY["cdc_join_view_maintenance"].oracle,
)
def q_streaming_cdc_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the join-view maintenance: the changelog
    replay drives the per-key delta machine (cdc_delta_agg_stream —
    liveness and balance increments with the old value in state), and
    the drained increments compose with the STATIC per-customer order
    aggregate through the delta identities
      d(n_orders) = d_live x n_ord(key)
      d(revenue)  = d_live x rev(key)
      d(wbal)     = d_bal  x n_ord(key)
    so the continuously-maintained view equals the batch IVM result and
    both equal the closed-form post-state join (oracle identical —
    batch ≡ stream ≡ recompute, the strongest three-way check in the
    CDC family). The stream side never touches orders: the O(changes)
    increments join a bounded per-customer aggregate."""
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
        inc, f"reg_stream_cdcjoin_{next(_STREAM_SEQ)}"
    )
    per_key = drained.groupBy("c_custkey").agg(
        F.sum("d_n").alias("d_live"), F.sum("d_sum").alias("d_bal")
    )
    oc = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_ord"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100.0) AS BIGINT)")
            ).alias("rev_cents"),
        )
    )
    contrib = per_key.join(oc, "c_custkey").select(
        F.expr("c_custkey % 10").alias("bucket"),
        (F.col("d_live") * F.col("n_ord")).alias("dn"),
        (F.col("d_live") * F.col("rev_cents")).alias("drev"),
        (F.col("d_bal") * F.col("n_ord")).alias("dwbal"),
    )
    mv = contrib.groupBy("bucket").agg(
        F.sum("dn").alias("n_orders"),
        F.sum("drev").alias("rev_cents"),
        F.sum("dwbal").alias("wbal_cents"),
    )
    return mv.select(
        F.col("bucket").cast("double").alias("bucket_d"),
        F.col("n_orders").cast("double").alias("n_orders_d"),
        F.col("rev_cents").cast("double").alias("rev_cents_d"),
        F.col("wbal_cents").cast("double").alias("wbal_cents_d"),
    )


def _label_prop_oracle(rounds: int = 3) -> str:
    """Unrolled hard-clamped label propagation over the VERIFIED
    jaccard pair graph (nested whole): labels only add, so each round
    is a majority aggregate + QUALIFY pick — replayed mechanically."""
    pairs_sql = _REGISTRY["ngram_jaccard_pairs"].oracle
    sql = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({pairs_sql}) q),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    lab0 AS (
      SELECT doc_id AS u, lang AS lbl, 0 AS round
      FROM documents WHERE doc_id % 5 = 0)"""
    for k in range(1, rounds + 1):
        sql += f""",
    new{k} AS (
      SELECT u, lbl, {k} AS round FROM (
        SELECT e.u, l.lbl, count(*) AS cnt
        FROM edges e JOIN lab{k - 1} l ON l.u = e.v
        WHERE e.u NOT IN (SELECT u FROM lab{k - 1})
        GROUP BY 1, 2)
      QUALIFY row_number() OVER (PARTITION BY u
              ORDER BY cnt DESC, lbl ASC) = 1),
    lab{k} AS (SELECT * FROM lab{k - 1} UNION ALL SELECT * FROM new{k})"""
    sql += f"""
    SELECT d.lang,
           CAST(sum(CASE WHEN l.round = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             AS n_seed_d,
           CAST(sum(CASE WHEN l.round > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             AS n_prop_d,
           CAST(sum(CASE WHEN l.round > 0 AND l.lbl = d.lang
                         THEN 1 ELSE 0 END) AS DOUBLE) AS n_prop_correct_d
    FROM lab{rounds} l JOIN documents d ON d.doc_id = l.u
    GROUP BY 1"""
    return sql


@register("label_propagation_lang", _label_prop_oracle(3))
def q_label_propagation_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised language labeling by propagation over the
    near-dup graph (operators/graph.py propagate_labels): 20% of
    documents (doc_id % 5 == 0) keep their known lang as hard-clamped
    seeds; three majority-vote rounds label their graph neighborhoods —
    the graph-based alternative to lang_id's content classifier, and
    the standard trick for stretching scarce labels across a 100 TB
    corpus (near-dups share provenance). Deterministic ties (smallest
    label), monotone label growth; per-lang report with propagation
    accuracy against the withheld truth.

    r8: identical TEXTS collapse to a weighted representative before
    the jaccard pair join (the 100x stress filled the disk with the
    expanded pair shuffle — exact-replica cliques share ALL shingles).
    Every unlabeled copy of a rep sees the identical vote multiset
    (labeled siblings + labeled members of neighbor reps, weighted by
    member count), so the weighted rep-level rounds reproduce per-copy
    propagate_labels exactly (graph.propagate_labels_weighted; pinned
    by a planted-duplicate equality test) and the unchanged expanded
    oracle still verifies the report."""
    docs = _t(spark, sf_dir, "documents")
    reps = docs.groupBy("text").agg(F.min("doc_id").alias("rep"))
    members = docs.join(reps, "text").select(
        "doc_id",
        "rep",
        "lang",
        (F.col("doc_id") % 5 == 0).alias("is_seed"),
    )
    rep_pairs = text.ngram_jaccard_pairs(
        docs.join(
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
    lab = graph.propagate_labels_weighted(
        rep_pairs, seed_groups, unlabeled, rounds=3, id_col="node"
    )
    prop = lab.where(F.col("round") > 0).select(
        F.col("node").alias("rep"), "lbl"
    )
    seed_part = members.where(F.col("is_seed")).select(
        "lang", F.lit(0).alias("round"), F.col("lang").alias("lbl")
    )
    prop_part = (
        members.where(~F.col("is_seed"))
        .join(prop, "rep")
        .select("lang", F.lit(1).alias("round"), "lbl")
    )
    return seed_part.unionByName(prop_part).groupBy("lang").agg(
        F.sum(F.expr("CASE WHEN round = 0 THEN 1 ELSE 0 END"))
        .cast("double")
        .alias("n_seed_d"),
        F.sum(F.expr("CASE WHEN round > 0 THEN 1 ELSE 0 END"))
        .cast("double")
        .alias("n_prop_d"),
        F.sum(
            F.expr("CASE WHEN round > 0 AND lbl = lang THEN 1 ELSE 0 END")
        )
        .cast("double")
        .alias("n_prop_correct_d"),
    )


@register(
    "multimodal_exif_metadata",
    """
    SELECT doc_id,
           'cam-' || CAST(doc_id % 7 AS VARCHAR) AS make,
           CAST(doc_id % 8 + 1 AS INT) AS orientation,
           '2024:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             || ' 12:00:00' AS shot_at
    FROM documents
    """,
)
def q_multimodal_exif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF APP1 metadata round-trip (operators/multimodal.py
    exif_app1_bytes / parse_exif_app1): deterministic camera fields are
    written as a REAL little-endian TIFF 6.0 IFD (inline SHORT +
    out-of-line ASCII values), spliced into a JPEG marker stream, and
    recovered by a real marker walk + IFD parse — the metadata side of
    the image family (the pixel side is the T.81 decoder). The oracle
    states the fields analytically from doc_id, so one wrong byte
    anywhere in the TIFF layout breaks the hash. Narrow Arrow map."""
    return multimodal.exif_metadata_roundtrip(_t(spark, sf_dir, "documents"))


@register(
    "avro_schema_evolution",
    """
    SELECT event_id, ts, CAST(user_id AS DOUBLE) AS user_id_d,
           event_type, value,
           'web' AS channel,
           CAST(event_id % 3 AS BIGINT) AS retries
    FROM events
    """,
)
def q_avro_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro SCHEMA RESOLUTION end to end (sources/avro_py.py
    decode_avro_resolved, per the 1.11 spec's resolution rules): the
    producer writes V1 records (with a deprecated ``props`` field and
    an INT ``retries``); the consumer reads with V2 — ``props`` dropped
    (writer-only bytes skipped), ``channel`` added with default 'web'
    (reader-only), ``retries`` promoted int->long. This is the
    consumer-keeps-working contract a registry deployment relies on
    when producers evolve (reference: the AVRO value format + explicit
    schema registration, README.md:27,39 / generator.py:167-187). The
    oracle states the evolved view analytically — one wrong byte in the
    skip/default/promotion walk breaks the hash."""
    from ..sources import avro_py

    ev = _t(spark, sf_dir, "events")
    wire_in = ev.select(
        "event_id",
        F.col("ts").alias("ts_micros"),
        "user_id",
        "event_type",
        "value",
        "props",
        F.expr("CAST(event_id % 3 AS INT)").alias("retries"),
    )
    writer = """
    {"type": "record", "name": "EventV1", "fields": [
      {"name": "event_id", "type": "long"},
      {"name": "ts_micros", "type": {"type": "long",
        "logicalType": "timestamp-micros"}},
      {"name": "user_id", "type": ["null", "long"]},
      {"name": "event_type", "type": "string"},
      {"name": "value", "type": "double"},
      {"name": "props", "type": "string"},
      {"name": "retries", "type": "int"}
    ]}
    """
    reader = """
    {"type": "record", "name": "EventV2", "fields": [
      {"name": "event_id", "type": "long"},
      {"name": "ts_micros", "type": {"type": "long",
        "logicalType": "timestamp-micros"}},
      {"name": "user_id", "type": ["null", "long"]},
      {"name": "event_type", "type": "string"},
      {"name": "value", "type": "double"},
      {"name": "channel", "type": "string", "default": "web"},
      {"name": "retries", "type": "long"}
    ]}
    """
    payloads = avro_py.encode_avro_py(wire_in, writer)
    decoded = avro_py.decode_avro_resolved(payloads, writer, reader)
    return decoded.select(
        "event_id",
        F.col("ts_micros").alias("ts"),
        F.col("user_id").cast("double").alias("user_id_d"),
        "event_type",
        "value",
        "channel",
        "retries",
    )


def _absorption_oracle(k: int = 4, target: str = "purchase") -> str:
    """Unrolled k-step absorption recursion over the verified
    transition-matrix algebra: per-term integer ppm products with div
    BEFORE the order-free sum, so both engines replay identically."""
    sql = """
    WITH p AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events),
    c AS (SELECT prev_type, next_type, count(*) AS n
          FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT prev_type, sum(n) AS tot FROM c GROUP BY 1),
    m AS (SELECT c.prev_type AS s, c.next_type AS nx,
                 (c.n * 1000000) // t.tot AS p_ppm
          FROM c JOIN t USING (prev_type)),
    r0 AS (SELECT DISTINCT s, CAST(0 AS BIGINT) AS ppm FROM m)"""
    for i in range(1, k + 1):
        sql += f""",
    r{i} AS (
      SELECT m.s,
             sum(CASE WHEN m.nx = '{target}' THEN m.p_ppm
                      ELSE m.p_ppm * coalesce(r.ppm, 0) // 1000000 END)
               AS ppm
      FROM m LEFT JOIN r{i - 1} r
        ON r.s = m.nx AND m.nx != '{target}'
      GROUP BY 1)"""
    sql += f"""
    SELECT s AS state, CAST(ppm AS DOUBLE) AS reach_ppm_d
    FROM r{k}"""
    return sql


@register("markov_absorption_purchase", _absorption_oracle(4))
def q_markov_absorption_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorption analysis of the behavioral Markov chain: for every
    state, the probability of reaching 'purchase' within 4 steps —
    the conversion-potential ranking of states that the raw transition
    matrix only hints at (Kemeny/Snell absorbing-chain analysis,
    computed as the k-step recursion instead of a matrix inverse so
    every quantity stays an exact integer ppm: per-term div BEFORE the
    order-free sum, the pagerank discipline). The chain is the verified
    event_transition_matrix algebra; the state space is bounded by
    |event_type|, so every frame after the corpus pass is tiny and the
    4 joins are broadcast-sized."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    c = p.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    m = (
        c.join(t, "prev_type")
        .select(
            F.col("prev_type").alias("s"),
            F.col("next_type").alias("nx"),
            F.expr("(n * 1000000L) div tot").alias("p_ppm"),
        )
        .transform(sizing.materialize, "markov transition matrix")
    )
    reach = m.select("s").distinct().select(
        "s", F.lit(0).cast("long").alias("ppm")
    )
    for _ in range(4):
        reach = (
            m.join(
                reach.select(F.col("s").alias("nx"), F.col("ppm").alias("r_ppm")),
                "nx",
                "left",
            )
            .select(
                "s",
                F.expr(
                    "CASE WHEN nx = 'purchase' THEN p_ppm"
                    " ELSE p_ppm * coalesce(CASE WHEN nx != 'purchase'"
                    " THEN r_ppm END, 0L) div 1000000L END"
                ).alias("term"),
            )
            .groupBy("s")
            .agg(F.sum("term").alias("ppm"))
        )
    return reach.select(
        F.col("s").alias("state"),
        F.col("ppm").cast("double").alias("reach_ppm_d"),
    )


@register(
    "funnel_time_to_convert",
    """
    WITH fv AS (
      SELECT user_id, min(epoch_us(ts)) AS v_us
      FROM events WHERE user_id IS NOT NULL AND event_type = 'view'
      GROUP BY 1),
    fp AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.v_us
      GROUP BY 1),
    d AS (
      SELECT (fp.p_us - fv.v_us) // 1000000 AS dsec
      FROM fp JOIN fv USING (user_id)),
    cells AS (SELECT dsec, count(*) AS n FROM d GROUP BY 1),
    c AS (
      SELECT dsec, n,
             sum(n) OVER (ORDER BY dsec) AS cum,
             sum(n) OVER () AS n_total
      FROM cells),
    qs AS (SELECT unnest([0.25, 0.5, 0.75]) AS q),
    r AS (
      SELECT c.*, q, CAST(floor(q * (n_total - 1)) + 1 AS BIGINT) AS rnk
      FROM c CROSS JOIN qs),
    hit AS (
      SELECT q, dsec FROM r WHERE cum - n < rnk AND rnk <= cum),
    tot AS (SELECT count(*) AS n_conv, sum(dsec) AS s FROM d)
    SELECT CAST(t.n_conv AS DOUBLE) AS n_converted_d,
           CAST(t.s // t.n_conv AS DOUBLE) AS mean_s_d,
           CAST(max(CASE WHEN q = 0.25 THEN dsec END) AS DOUBLE) AS p25_s_d,
           CAST(max(CASE WHEN q = 0.5 THEN dsec END) AS DOUBLE) AS p50_s_d,
           CAST(max(CASE WHEN q = 0.75 THEN dsec END) AS DOUBLE) AS p75_s_d
    FROM hit CROSS JOIN tot t
    GROUP BY t.n_conv, t.s
    """,
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the view->purchase funnel:
    per-user first view to first subsequent purchase in exact integer
    seconds, with EXACT quartiles from the delta-second histogram —
    bounded by the CALENDAR span (max 2.6M distinct seconds over the
    30-day window), never by the user count, so the one cum-count
    window runs over a bounded cell frame at any corpus scale (the
    quantile_sketch/key_skew rank idiom). Mean as integer div. The
    latency companion to conversion_funnel_windowed's rate view."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("v_us"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("p_us"))
        .join(fv, "user_id")
        .where(F.col("p_us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("p_us"), F.first("v_us").alias("v_us"))
    )
    d = fp.select(F.expr("(p_us - v_us) div 1000000L").alias("dsec"))
    cells = d.groupBy("dsec").agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("dsec").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_tot = Window.partitionBy()
    c = cells.select(
        "dsec",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("n_total"),
    )
    qs = spark.createDataFrame([(0.25,), (0.5,), (0.75,)], "q double")
    r = c.crossJoin(F.broadcast(qs)).withColumn(
        "rnk", F.expr("CAST(floor(q * (n_total - 1)) + 1 AS BIGINT)")
    )
    hit = r.where(
        (F.col("cum") - F.col("n") < F.col("rnk"))
        & (F.col("rnk") <= F.col("cum"))
    ).select("q", "dsec")
    tot = d.agg(
        F.count(F.lit(1)).alias("n_conv"), F.sum("dsec").alias("s")
    )
    return (
        hit.crossJoin(F.broadcast(tot))
        .groupBy("n_conv", "s")
        .agg(
            F.max(F.expr("CASE WHEN q = 0.25 THEN dsec END"))
            .cast("double")
            .alias("p25_s_d"),
            F.max(F.expr("CASE WHEN q = 0.5 THEN dsec END"))
            .cast("double")
            .alias("p50_s_d"),
            F.max(F.expr("CASE WHEN q = 0.75 THEN dsec END"))
            .cast("double")
            .alias("p75_s_d"),
        )
        .select(
            F.col("n_conv").cast("double").alias("n_converted_d"),
            F.expr("s div n_conv").cast("double").alias("mean_s_d"),
            "p25_s_d",
            "p50_s_d",
            "p75_s_d",
        )
    )


def _haar_oracle() -> str:
    """Generated integer-Haar levels over the first 32 daily revenue
    points: s = (a+b)//2 (truncating, matching Spark div), d = a-b,
    per-level energy = sum(d*d) — all BIGINT, engine-exact. DuckDB
    lists are 1-based; the generator keeps the index algebra explicit
    per level."""
    sql = """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             (sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000) AS x
      FROM orders GROUP BY 1),
    first32 AS (
      SELECT t, x FROM daily QUALIFY row_number() OVER (ORDER BY t) <= 32),
    l0 AS (SELECT list(x ORDER BY t) AS xs FROM first32)"""
    m = 32
    for lvl in range(1, 6):
        m //= 2
        sql += f""",
    l{lvl} AS (
      SELECT list_transform(range(1, {m + 1}),
               i -> (xs[2*i - 1] + xs[2*i]) // 2) AS xs,
             list_transform(range(1, {m + 1}),
               i -> xs[2*i - 1] - xs[2*i]) AS ds
      FROM l{lvl - 1})"""
    energies = ", ".join(
        f"""CAST((SELECT list_sum(list_transform(ds, d -> d * d))
            FROM l{lvl}) AS DOUBLE) AS e{lvl}_d"""
        for lvl in range(1, 6)
    )
    sql += f"""
    SELECT CAST((SELECT xs[1] FROM l5) AS DOUBLE) AS approx_d, {energies}"""
    return sql


@register("haar_wavelet_energy", _haar_oracle())
def q_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Haar wavelet decomposition of the first 32 days of
    revenue: five levels of pairwise (a+b) div 2 approximations and
    a-b details, with per-level detail ENERGY — the multiresolution
    screen that separates day-to-day noise (level-1 energy) from
    week-scale structure (levels 3-4), complementing the seasonal
    decomposition's fixed weekly model. The lazy integer Haar transform
    (truncating average + exact difference) keeps every coefficient a
    BIGINT, so the whole pyramid is engine- and partitioning-exact.
    The fold input is one bounded 32-element list (the ses/holt
    contract); levels are array transforms inside one projection."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1995-01-01").cast("timestamp"),
        ).alias("t")
    ).agg(
        F.expr("sum(CAST(floor(o_totalprice) AS BIGINT)) div 1000L").alias("x")
    )
    ser = daily.agg(
        F.expr(
            "slice(transform(array_sort(collect_list(struct(t, x))),"
            " e -> e.x), 1, 32)"
        ).alias("xs")
    )
    cur = ser
    m = 32
    for lvl in range(1, 6):
        m //= 2
        cur = cur.select(
            "*",
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                " i -> (xs[2*i] + xs[2*i + 1]) div 2)"
            ).alias(f"s{lvl}"),
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                " i -> xs[2*i] - xs[2*i + 1])"
            ).alias(f"d{lvl}"),
        ).drop("xs").withColumnRenamed(f"s{lvl}", "xs")
    out_cols = [F.expr("xs[0]").cast("double").alias("approx_d")]
    for lvl in range(1, 6):
        out_cols.append(
            F.expr(
                f"aggregate(d{lvl}, 0L, (acc, d) -> acc + d * d)"
            )
            .cast("double")
            .alias(f"e{lvl}_d")
        )
    return cur.select(*out_cols)
