"""Round-7 continuation (fifth block, split from q12 at the ~2,500-LoC
module guideline): split conformal intervals, CUPED, the TIFF codec,
NFD compaction planning, the engine-exact HLL estimator, Naive Bayes,
LOO target encoding, Mahalanobis outliers, Wilson ranking, Markov
accuracy, RNG-free RANSAC, postings delta-varint sizing, the
reuse-distance histogram, degree assortativity, the wire-format
gauntlet, histogram equalization, winnowing pairs, the randomization
test, Wasserstein drift (batch + streaming twin), the HDR gap
histogram, the rapid-repeat audit, and k-truss peeling.

Imported after q12 from ``registry/__init__.py``, preserving the
global registration order.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401
from .q04_streamksql import _STREAM_SEQ, _replay_events  # noqa: F401


_CONFORMAL_ORACLE = """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1992-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             sum(CAST(floor(o_totalprice) AS BIGINT)) AS y
      FROM orders GROUP BY 1),
    f AS (
      SELECT a.t, abs(a.y - b.y) AS resid
      FROM daily a JOIN daily b ON a.t = b.t + 7),
    t0 AS (SELECT min(t) AS t0 FROM daily),
    cal AS (SELECT resid, t FROM f, t0 WHERE t < t0 + 365),
    hold AS (SELECT resid FROM f, t0 WHERE t >= t0 + 365),
    n AS (SELECT count(*) AS n FROM cal),
    k AS (SELECT n, least(((n + 1) * 9 + 9) // 10, n) AS k FROM n),
    q AS (
      SELECT max(resid) AS qhat FROM (
        SELECT resid FROM cal, k
        QUALIFY row_number() OVER (ORDER BY resid, t) <= k)),
    cov AS (
      SELECT count(*) AS n_hold,
             sum(CASE WHEN resid <= (SELECT qhat FROM q)
                      THEN 1 ELSE 0 END) AS covered
      FROM hold)
    SELECT CAST(n.n AS DOUBLE) AS n_cal_d,
           CAST(k.k AS DOUBLE) AS k_d,
           CAST(q.qhat AS DOUBLE) AS qhat_d,
           CAST(cov.n_hold AS DOUBLE) AS n_holdout_d,
           CAST(cov.covered AS DOUBLE) AS covered_d
    FROM n, k, q, cov
"""


@register("conformal_forecast_interval", _CONFORMAL_ORACLE)
def q_conformal_forecast_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction (Vovk et al.; Lei et al., JASA 2018)
    for the seasonal-naive daily-revenue forecast: the 90% interval
    half-width is the ceil((n+1)*0.9)-th smallest calibration residual
    |y_t - y_(t-7)| — an EXACT order statistic selected with
    orderBy().limit(k) (TakeOrderedAndProject, no global sort window)
    over the series' FIRST 365 observed days (anchored at min(t), not a
    fixed date — testdata date ranges move between rounds, and a fixed
    split once made this whole query silently degenerate: n_cal = 0
    passed the oracle vacuously because both engines agreed on nothing),
    and the holdout coverage count rides along so the conformal
    guarantee itself is hash-checked. The lag-7 'model' is a calendar
    self-join (gap days simply drop out), so there is no sequence
    window anywhere. Everything is BIGINT."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1992-01-01").cast("timestamp"),
        ).alias("t")
    ).agg(F.expr("sum(CAST(floor(o_totalprice) AS BIGINT))").alias("y"))
    b = daily.select((F.col("t") + 7).alias("t"), F.col("y").alias("y7"))
    f = daily.join(b, "t").select(
        "t", F.abs(F.col("y") - F.col("y7")).alias("resid")
    )
    t0 = daily.agg(F.min("t").alias("t0"))
    f = f.crossJoin(F.broadcast(t0))
    cal = f.where(F.col("t") < F.col("t0") + 365)
    hold = f.where(F.col("t") >= F.col("t0") + 365)
    nk = cal.agg(F.count(F.lit(1)).alias("n")).select(
        "n",
        F.expr("least(((n + 1) * 9 + 9) div 10, n)").alias("k"),
    )
    k = nk.collect()[0]["k"]  # 1-row driver-bounded scalar (stump-root idiom)
    qhat = (
        cal.orderBy(F.col("resid").asc(), F.col("t").asc())
        .limit(int(k))
        .agg(F.max("resid").alias("qhat"))
    )
    cov = hold.crossJoin(F.broadcast(qhat)).agg(
        F.count(F.lit(1)).alias("n_hold"),
        F.sum(
            F.when(F.col("resid") <= F.col("qhat"), 1).otherwise(0)
        ).alias("covered"),
        F.first("qhat").alias("qhat"),
    )
    return nk.crossJoin(F.broadcast(cov)).select(
        F.col("n").cast("double").alias("n_cal_d"),
        F.col("k").cast("double").alias("k_d"),
        F.col("qhat").cast("double").alias("qhat_d"),
        F.col("n_hold").cast("double").alias("n_holdout_d"),
        F.col("covered").cast("double").alias("covered_d"),
    )


_CUPED_ORACLE = """
    WITH d0 AS (SELECT date_trunc('day', min(ts)) AS d0 FROM events),
    ux AS (
      SELECT user_id,
             ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 7))
               ::UBIGINT::BIGINT % 2 AS variant,
             sum(CASE WHEN ts < d0 + INTERVAL 15 DAY
                 THEN CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)
                 ELSE 0 END) AS x,
             sum(CASE WHEN ts >= d0 + INTERVAL 15 DAY
                 THEN CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)
                 ELSE 0 END) AS y
      FROM events, d0 WHERE user_id IS NOT NULL GROUP BY 1, 2),
    g AS (SELECT count(*) AS n, sum(x) AS sx FROM ux),
    mx AS (SELECT n, sx, sx // n AS mx FROM g),
    dev AS (
      SELECT u.variant, u.x, u.y, u.x - m.mx AS dx
      FROM ux u, mx m),
    pool AS (
      SELECT sum(CAST(dx * (y) AS HUGEINT)) AS sdxy,
             sum(CAST(dx * dx AS HUGEINT)) AS sdxx
      FROM dev),
    th AS (
      SELECT CASE WHEN CAST(sdxx AS DOUBLE) > 0
                  THEN CAST(sdxy AS DOUBLE) / CAST(sdxx AS DOUBLE)
                  ELSE 0 END AS theta
      FROM pool),
    pv AS (
      SELECT variant, count(*) AS nv, sum(x) AS sxv, sum(y) AS syv
      FROM dev GROUP BY 1)
    SELECT pv.variant,
           CAST(pv.nv AS DOUBLE) AS n_d,
           CAST(pv.syv AS DOUBLE) / pv.nv AS mean_post_centi_d,
           CAST(pv.syv AS DOUBLE) / pv.nv
             - th.theta * (CAST(pv.sxv AS DOUBLE) / pv.nv
                           - CAST(m.sx AS DOUBLE) / m.n)
             AS mean_adj_centi_d,
           th.theta AS theta_d
    FROM pv, th, mx m
"""


@register("cuped_adjusted_lift", _CUPED_ORACLE)
def q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013)
    for the md5-split A/B experiment: each user's pre-period value (the
    covariate) adjusts their post-period metric by the pooled
    theta = sum(dx*y)/sum(dx*dx), with deviations anchored at the
    INTEGER floor-mean (both engines floor identically; any common
    anchor yields the same deterministic estimator). Per-user products
    stay BIGINT (a user's 30-day deviation is corpus-size-independent);
    the pooled product SUMS alone grow with user count, so they
    accumulate in DECIMAL(38,0)/HUGEINT and cast to DOUBLE once —
    overflow-safe at any SF. theta, the variant means, and the
    adjustment are each ONE correctly-rounded double op, so the
    adjusted lift is bit-exact cross-engine. ANSI-guard on zero
    covariate variance."""
    ev = _t(spark, sf_dir, "events")
    d0 = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    centi = "CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)"
    ux = (
        ev.crossJoin(F.broadcast(d0))
        .where(F.col("user_id").isNotNull())
        .groupBy(
            "user_id",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("ab:"), F.col("user_id").cast("string")
                            )
                        ),
                        1,
                        7,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("variant"),
        )
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN ts < d0 + INTERVAL 15 DAY THEN {centi}"
                    " ELSE 0L END"
                )
            ).alias("x"),
            F.sum(
                F.expr(
                    f"CASE WHEN ts >= d0 + INTERVAL 15 DAY THEN {centi}"
                    " ELSE 0L END"
                )
            ).alias("y"),
        )
    )
    g = ux.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")
    ).select("n", "sx", F.expr("sx div n").alias("mx"))
    dev = ux.crossJoin(F.broadcast(g)).select(
        "variant", "x", "y", (F.col("x") - F.col("mx")).alias("dx"), "n", "sx"
    )
    pool = dev.agg(
        F.sum(F.expr("CAST(dx * y AS DECIMAL(38,0))")).alias("sdxy"),
        F.sum(F.expr("CAST(dx * dx AS DECIMAL(38,0))")).alias("sdxx"),
        F.first("n").alias("n"),
        F.first("sx").alias("sx"),
    ).select(
        F.expr(
            "CASE WHEN CAST(sdxx AS DOUBLE) > 0"
            " THEN CAST(sdxy AS DOUBLE) / CAST(sdxx AS DOUBLE)"
            " ELSE CAST(0 AS DOUBLE) END"
        ).alias("theta"),
        "n",
        "sx",
    )
    pv = dev.groupBy("variant").agg(
        F.count(F.lit(1)).alias("nv"),
        F.sum("x").alias("sxv"),
        F.sum("y").alias("syv"),
    )
    mean_post = F.col("syv").cast("double") / F.col("nv")
    adj = mean_post - F.col("theta") * (
        F.col("sxv").cast("double") / F.col("nv")
        - F.col("sx").cast("double") / F.col("n")
    )
    return pv.crossJoin(F.broadcast(pool)).select(
        "variant",
        F.col("nv").cast("double").alias("n_d"),
        mean_post.alias("mean_post_centi_d"),
        adj.alias("mean_adj_centi_d"),
        F.col("theta").alias("theta_d"),
    )


_TIFF_ORACLE = """
    WITH dims AS (
      SELECT doc_id,
             CAST(16 + doc_id % 17 AS INT) AS width,
             CAST(10 + (doc_id * 3) % 13 AS INT) AS height
      FROM documents),
    xs AS (SELECT doc_id, width, height,
                  unnest(generate_series(0, width - 1)) AS x FROM dims),
    xy AS (SELECT doc_id, height, x,
                  unnest(generate_series(0, height - 1)) AS y FROM xs),
    m AS (
      SELECT doc_id, sum((doc_id + 3 * y + 7 * x) % 256) AS sum_px
      FROM xy GROUP BY 1)
    SELECT d.doc_id, d.width, d.height,
           CAST((d.height + 3) // 4 AS INT) AS n_strips,
           'MM' AS byte_order,
           CAST(m.sum_px AS DOUBLE) AS sum_px_d,
           CAST(m.sum_px AS DOUBLE) / (d.width * d.height) AS mean_px_d,
           'tiff6-strips' AS decoder
    FROM dims d JOIN m USING (doc_id)
"""


@register("multimodal_tiff_decode", _TIFF_ORACLE)
def q_multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline TIFF 6.0 image round-trip (multimodal.tiff_roundtrip):
    big-endian multi-strip grayscale payloads written and parsed by the
    in-repo codec — byte-order dispatch, ascending-tag IFD walk,
    OUT-OF-LINE strip offset/count LONG arrays (the layout wrinkle that
    distinguishes full TIFF from the EXIF metadata walk), strip
    reassembly, exact pixel sums. The oracle replays the deterministic
    pixel pattern analytically, so one wrong strip boundary or
    byte-order mistake anywhere breaks the hash. Ninth REAL in-repo
    codec (WAV, BMP, PNG, JPEG, GIF, MP4, MJPG, mu-law, TIFF)."""
    from ..operators import multimodal as mm

    out = mm.tiff_roundtrip(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "width",
        "height",
        "n_strips",
        "byte_order",
        F.col("sum_px").cast("double").alias("sum_px_d"),
        "mean_px_d",
        "decoder",
    )


_COMPACTION_ORACLE = """
    WITH RECURSIVE f AS (
      SELECT date_trunc('day', l_shipdate) AS k, count(*) AS s
      FROM lineitem GROUP BY 1),
    cap AS (SELECT 2 * max(s) AS c FROM f),
    it AS (
      SELECT s, row_number() OVER (ORDER BY s DESC, k ASC) AS rn
      FROM f),
    r AS (
      SELECT 1 AS rn, 1 AS bin, i.s AS load
      FROM it i WHERE i.rn = 1
      UNION ALL
      SELECT i.rn,
             CASE WHEN r.load + i.s <= (SELECT c FROM cap)
                  THEN r.bin ELSE r.bin + 1 END,
             CASE WHEN r.load + i.s <= (SELECT c FROM cap)
                  THEN r.load + i.s ELSE i.s END
      FROM r JOIN it i ON i.rn = r.rn + 1)
    SELECT r.bin,
           CAST(count(*) AS DOUBLE) AS n_files_d,
           CAST(sum(i.s) AS DOUBLE) AS load_d,
           CAST(sum(i.s) * 1000000 // (SELECT c FROM cap) AS DOUBLE)
             AS fill_ppm_d
    FROM r JOIN it i USING (rn)
    GROUP BY r.bin
"""


@register("compaction_bin_packing", _COMPACTION_ORACLE)
def q_compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance planning (bucketing.compaction_plan_nfd): pack
    the per-day lineitem 'files' into compaction targets of capacity
    2 x max by Next-Fit-Decreasing — the rewriteDataFiles decision every
    100 TB lake runs nightly, here as ONE bounded integer fold whose
    DuckDB twin is a linear recursive CTE, so the entire plan (bin
    membership, loads, fill ppm) hash-checks exactly."""
    from ..operators import bucketing as bk

    li = _t(spark, sf_dir, "lineitem")
    sizes = li.groupBy(
        F.date_trunc("day", F.col("l_shipdate")).alias("day")
    ).agg(F.count(F.lit(1)).alias("s"))
    return bk.compaction_plan_nfd(sizes)


_HLL_INV2_DUCK = """CASE WHEN {r} <= 60
      THEN CAST(1 AS DOUBLE) / CAST(CAST(1 AS BIGINT) << {r} AS DOUBLE)
      ELSE (CAST(1 AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 60 AS DOUBLE))
           / CAST(CAST(1 AS BIGINT) << ({r} - 60) AS DOUBLE) END"""

_HLL_ALPHA_MM = (
    "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
    " + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE)))"
    " * CAST(65536 AS DOUBLE)"
)


def _hll_estimate_oracle() -> str:
    regs_sql = _REGISTRY["hll_registers_exact"].oracle
    inv2 = _HLL_INV2_DUCK.format(r="r")
    return f"""
    WITH regs AS (SELECT * FROM ({regs_sql}) q),
    g AS (
      SELECT event_type,
             list(register ORDER BY bucket) AS rl,
             count(*) AS nb
      FROM regs GROUP BY 1),
    s AS (
      SELECT event_type, 256 - nb AS v_zeros,
             list_reduce(
               [CAST(256 - nb AS DOUBLE)]
                 || list_transform(rl, r -> {inv2}),
               (a, b) -> a + b) AS ssum
      FROM g),
    ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_n
           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    est AS (
      SELECT s.event_type, s.v_zeros, s.ssum,
             {_HLL_ALPHA_MM} / s.ssum AS e_raw, ex.exact_n
      FROM s JOIN ex USING (event_type))
    SELECT event_type,
           CAST(v_zeros AS DOUBLE) AS v_zeros_d,
           ssum AS s_sum_d,
           e_raw AS est_raw_d,
           CAST(exact_n AS DOUBLE) AS exact_d,
           e_raw / exact_n - CAST(1.0 AS DOUBLE) AS err_ratio_d,
           CAST(CASE WHEN e_raw <= CAST(2.5 AS DOUBLE) * CAST(256 AS DOUBLE)
                      AND v_zeros > 0 THEN 1 ELSE 0 END AS INT) AS lc_flag
    FROM est
"""


@register("hll_estimate_accuracy", _hll_estimate_oracle())
def q_hll_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full HyperLogLog ESTIMATOR (Flajolet et al. 2007) made
    engine-exact and hash-checked — upgrading hll_registers_exact's
    'the float estimator stays outside the oracle' caveat: the harmonic
    power sum folds the registers IN BUCKET ORDER (a sequential
    aggregate/list_reduce, so the float rounding sequence is identical
    on both engines), each 2^-register term is built from exact
    power-of-two divisions (no pow(), which is not correctly-rounded
    cross-engine; registers can exceed 62, so the shift splits at 60),
    and alpha_m m^2 is the same literal arithmetic on both sides. The
    exact distinct count and the relative error ride along; the
    small-range-correction branch condition is emitted as a flag (the
    ln() inside linear counting is exactly the op the integer
    discipline forbids — the flag tells the consumer when the raw
    estimate needs it)."""
    from ..operators import topk as topk_ops

    ev = _t(spark, sf_dir, "events")
    regs = topk_ops.hll_registers(ev, "user_id", group_cols=["event_type"])
    inv2 = (
        "CASE WHEN e <= 60"
        " THEN CAST(1.0 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), e)"
        " AS DOUBLE)"
        " ELSE (CAST(1.0 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), 60)"
        " AS DOUBLE))"
        " / CAST(shiftleft(CAST(1 AS BIGINT), e - 60) AS DOUBLE) END"
    )
    g = regs.groupBy("event_type").agg(
        F.expr(
            "aggregate("
            " transform(array_sort(collect_list(struct(bucket, register))),"
            "           p -> p.register),"
            " CAST(256 - count(1) AS DOUBLE),"
            f" (a, e) -> a + ({inv2}))"
        ).alias("ssum"),
        (F.lit(256) - F.count(F.lit(1))).alias("v_zeros"),
    )
    ex = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_n"))
    )
    est = g.join(ex, "event_type").withColumn(
        "e_raw", F.expr(f"({_HLL_ALPHA_MM}) / ssum")
    )
    return est.select(
        "event_type",
        F.col("v_zeros").cast("double").alias("v_zeros_d"),
        F.col("ssum").alias("s_sum_d"),
        F.col("e_raw").alias("est_raw_d"),
        F.col("exact_n").cast("double").alias("exact_d"),
        (F.col("e_raw") / F.col("exact_n") - F.lit(1.0)).alias("err_ratio_d"),
        F.expr(
            "CAST(CASE WHEN e_raw <= CAST(2.5 AS DOUBLE)"
            " * CAST(256 AS DOUBLE) AND v_zeros > 0"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("lc_flag"),
    )


_NB_ORACLE = """
    WITH d0 AS (SELECT date_trunc('day', min(ts)) AS d0 FROM events),
    x AS (
      SELECT event_type AS c,
             CAST(extract(hour FROM ts) AS INT) // 6 AS hb,
             CAST(datediff('day', d0, date_trunc('day', ts)) AS INT) % 7 AS wd
      FROM events, d0),
    nc AS (SELECT c, count(*) AS n FROM x GROUP BY 1),
    ch AS (SELECT c, hb, count(*) AS cnt FROM x GROUP BY 1, 2),
    cw AS (SELECT c, wd, count(*) AS cnt FROM x GROUP BY 1, 2),
    grid AS (
      SELECT hb, wd, c, n
      FROM (SELECT unnest(range(0, 4)) AS hb),
           (SELECT unnest(range(0, 7)) AS wd),
           nc),
    sc AS (
      SELECT g.hb, g.wd, g.c,
             CAST(g.n AS DOUBLE)
               * (coalesce(h.cnt, 0) + 1)
               * (coalesce(w.cnt, 0) + 1)
               / ((g.n + 4) * (g.n + 7)) AS score
      FROM grid g
      LEFT JOIN ch h ON h.c = g.c AND h.hb = g.hb
      LEFT JOIN cw w ON w.c = g.c AND w.wd = g.wd),
    win AS (
      SELECT hb, wd, c AS predicted_type, score,
             row_number() OVER (PARTITION BY hb, wd
                                ORDER BY score DESC, c ASC) AS rn
      FROM sc),
    cell AS (SELECT hb, wd, count(*) AS n_cell FROM x GROUP BY 1, 2)
    SELECT w.hb, w.wd, w.predicted_type, w.score AS score_d,
           CAST(coalesce(cl.n_cell, 0) AS DOUBLE) AS n_cell_d
    FROM win w LEFT JOIN cell cl ON cl.hb = w.hb AND cl.wd = w.wd
    WHERE w.rn = 1
"""


@register("naive_bayes_event_type", _NB_ORACLE)
def q_naive_bayes_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine Naive Bayes (the probabilistic family member next to
    the Gini stumps, depth-2 CART, perceptron and kNN): P(class) x
    P(hour-bucket|class) x P(weekday|class) with +1 Laplace smoothing,
    trained by three count aggregates and scored on the full 4x7
    feature grid. Weekday is day-index mod 7 anchored at min(ts) (the
    stump discipline — dayofweek() origins differ across engines).
    Engine-exactness: the posterior numerator is THREE multiplications
    and ONE division over exact integer counts, evaluated in the same
    order on both engines — identical doubles, so the per-cell argmax
    (ties: class name) is bit-deterministic. Scale shape: three
    map-side-combinable count aggregates; scoring happens on the
    28-cell grid x |classes| — dictionary-sized, broadcast; per-cell
    rank windows only."""
    ev = _t(spark, sf_dir, "events")
    d0 = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    x = ev.crossJoin(F.broadcast(d0)).select(
        F.col("event_type").alias("c"),
        F.expr("CAST(hour(ts) AS INT) div 6").alias("hb"),
        F.expr(
            "CAST(datediff(date_trunc('day', ts), d0) AS INT) % 7"
        ).alias("wd"),
    ).transform(sizing.materialize, "naive bayes rows")
    nc = x.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
    ch = x.groupBy("c", "hb").agg(F.count(F.lit(1)).alias("hcnt"))
    cw = x.groupBy("c", "wd").agg(F.count(F.lit(1)).alias("wcnt"))
    spark_ = ev.sparkSession
    hbs = spark_.range(4).select(F.col("id").cast("int").alias("hb"))
    wds = spark_.range(7).select(F.col("id").cast("int").alias("wd"))
    grid = hbs.crossJoin(wds).crossJoin(F.broadcast(nc))
    sc = (
        grid.join(F.broadcast(ch), ["c", "hb"], "left")
        .join(F.broadcast(cw), ["c", "wd"], "left")
        .select(
            "hb",
            "wd",
            "c",
            (
                F.col("n").cast("double")
                * (F.coalesce(F.col("hcnt"), F.lit(0)) + 1)
                * (F.coalesce(F.col("wcnt"), F.lit(0)) + 1)
                / ((F.col("n") + 4) * (F.col("n") + 7))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("hb", "wd").orderBy(
        F.col("score").desc(), F.col("c").asc()
    )
    win = (
        sc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("hb", "wd", F.col("c").alias("predicted_type"), "score")
    )
    cell = x.groupBy("hb", "wd").agg(F.count(F.lit(1)).alias("n_cell"))
    return win.join(cell, ["hb", "wd"], "left").select(
        "hb",
        "wd",
        "predicted_type",
        F.col("score").alias("score_d"),
        F.coalesce(F.col("n_cell"), F.lit(0)).cast("double").alias("n_cell_d"),
    )


_TARGET_ENCODE_ORACLE = """
    WITH x AS (
      SELECT event_id, event_type,
             CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS micro
      FROM events WHERE value IS NOT NULL),
    g AS (SELECT event_type, sum(micro) AS s, count(*) AS n
          FROM x GROUP BY 1)
    SELECT x.event_id, x.event_type,
           CASE WHEN g.n > 1
                THEN CAST(g.s - x.micro AS DOUBLE) / (g.n - 1) END
             AS loo_mean_micro_d,
           CAST(g.n AS DOUBLE) AS n_category_d
    FROM x JOIN g USING (event_type)
"""


@register("target_encode_loo", _TARGET_ENCODE_ORACLE)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the event-type category against
    the event value — the leakage-safe categorical encoder of a
    training-data pipeline (each row's own label is excluded from its
    category mean, so the feature never memorizes the row): encode_i =
    (sum(category) - micro_i) / (n - 1), with the sums exact BIGINT
    micro-units and ONE correctly-rounded division per row. ANSI-guard:
    singleton categories encode NULL (n - 1 = 0). Scale shape: one
    map-side-combinable category aggregate broadcast back onto the fact
    rows — no window, no per-row shuffle."""
    ev = _t(spark, sf_dir, "events")
    x = ev.where(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        F.expr("CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)").alias(
            "micro"
        ),
    )
    g = x.groupBy("event_type").agg(
        F.sum("micro").alias("s"), F.count(F.lit(1)).alias("n")
    )
    j = x.join(F.broadcast(g), "event_type")
    return j.select(
        "event_id",
        "event_type",
        F.when(
            F.col("n") > 1,
            (F.col("s") - F.col("micro")).cast("double") / (F.col("n") - 1),
        ).alias("loo_mean_micro_d"),
        F.col("n").cast("double").alias("n_category_d"),
    )


_MAHAL_ORACLE = """
    WITH feat AS (
      SELECT o.o_orderkey,
             CAST(floor(o.o_totalprice) AS BIGINT) AS p,
             count(*) AS q
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    g AS (SELECT count(*) AS n, sum(p) AS sp, sum(q) AS sq FROM feat),
    m AS (SELECT n, sp // n AS mp, sq // n AS mq FROM g),
    dev AS (
      SELECT f.o_orderkey, f.p - m.mp AS dx, f.q - m.mq AS dy
      FROM feat f, m),
    cov AS (
      SELECT sum(dx * dx) AS sxx, sum(dx * dy) AS sxy, sum(dy * dy) AS syy
      FROM dev),
    det AS (
      SELECT CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE) AS det
      FROM cov),
    qf AS (
      SELECT d.o_orderkey, d.dx, d.dy,
             CAST(c.syy AS DOUBLE) * d.dx * d.dx
               - CAST(2 AS DOUBLE) * CAST(c.sxy AS DOUBLE) * d.dx * d.dy
               + CAST(c.sxx AS DOUBLE) * d.dy * d.dy AS qform
      FROM dev d, cov c),
    top AS (
      SELECT o_orderkey, dx, dy, qform,
             CAST(row_number() OVER (ORDER BY qform DESC, o_orderkey ASC)
                  AS INT) AS rnk
      FROM qf QUALIFY rnk <= 20)
    SELECT t.o_orderkey, CAST(t.dx AS DOUBLE) AS dx_d,
           CAST(t.dy AS DOUBLE) AS dy_d,
           t.qform / dd.det AS d2_scaled_d, t.rnk
    FROM top t, det dd
"""


@register("mahalanobis_order_outliers", _MAHAL_ORACLE)
def q_mahalanobis_order_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 multivariate outlier orders by EXACT Mahalanobis distance
    over (order price, item count) — the correlation-aware screen the
    univariate z-score/MAD monitors miss: the 2x2 covariance inverse is
    eliminated by cross-multiplication, d^2 * det * n = syy*dx^2 -
    2*sxy*dx*dy + sxx*dy^2, a fixed-order product of exact BIGINT
    moments (deviations anchor at the integer floor-mean, the CUPED
    discipline) evaluated identically on both engines; the selection is
    orderBy().limit(20) (TakeOrderedAndProject), ranks attached on the
    20-row result by the same deterministic key. One division at the
    very end scales by the determinant for display."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    feat = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.expr("CAST(floor(o_totalprice) AS BIGINT)").alias("p"))
        .agg(F.count(F.lit(1)).alias("q"))
    )
    g = feat.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").alias("sp"),
        F.sum("q").alias("sq"),
    ).select(F.expr("sp div n").alias("mp"), F.expr("sq div n").alias("mq"))
    dev = feat.crossJoin(F.broadcast(g)).select(
        "o_orderkey",
        (F.col("p") - F.col("mp")).alias("dx"),
        (F.col("q") - F.col("mq")).alias("dy"),
    ).transform(sizing.materialize, "mahalanobis deviations")
    cov = dev.agg(
        F.sum(F.expr("dx * dx")).alias("sxx"),
        F.sum(F.expr("dx * dy")).alias("sxy"),
        F.sum(F.expr("dy * dy")).alias("syy"),
    )
    qf = dev.crossJoin(F.broadcast(cov)).select(
        "o_orderkey",
        "dx",
        "dy",
        F.expr(
            "CAST(syy AS DOUBLE) * dx * dx"
            " - CAST(2 AS DOUBLE) * CAST(sxy AS DOUBLE) * dx * dy"
            " + CAST(sxx AS DOUBLE) * dy * dy"
        ).alias("qform"),
        F.expr(
            "CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)"
        ).alias("det"),
    )
    top = qf.orderBy(F.col("qform").desc(), F.col("o_orderkey").asc()).limit(20)
    return (
        top.coalesce(1)
        .sortWithinPartitions(F.col("qform").desc(), F.col("o_orderkey").asc())
        .select(
            "o_orderkey",
            F.col("dx").cast("double").alias("dx_d"),
            F.col("dy").cast("double").alias("dy_d"),
            (F.col("qform") / F.col("det")).alias("d2_scaled_d"),
            (F.monotonically_increasing_id() + 1).cast("int").alias("rnk"),
        )
    )


_WILSON_ORACLE = """
    WITH s AS (
      SELECT l_partkey, count(*) AS n,
             sum(CASE WHEN l_returnflag != 'R' THEN 1 ELSE 0 END) AS k
      FROM lineitem GROUP BY 1),
    w AS (
      SELECT l_partkey, n, k,
             CAST(k AS DOUBLE) / n AS p,
             CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2
      FROM s),
    lb AS (
      SELECT l_partkey, n, k,
             (p + z2 / (2 * n)
              - CAST(1.96 AS DOUBLE)
                * sqrt((p * (CAST(1 AS DOUBLE) - p) + z2 / (4 * n)) / n))
             / (CAST(1 AS DOUBLE) + z2 / n) AS wilson_lb
      FROM w),
    top AS (
      SELECT l_partkey, n, k, wilson_lb,
             CAST(row_number() OVER (ORDER BY wilson_lb DESC, l_partkey ASC)
                  AS INT) AS rnk
      FROM lb QUALIFY rnk <= 20)
    SELECT l_partkey, CAST(n AS DOUBLE) AS n_d, CAST(k AS DOUBLE) AS kept_d,
           wilson_lb AS wilson_lb_d, rnk
    FROM top
"""


@register("wilson_topk_parts", _WILSON_ORACLE)
def q_wilson_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by the Wilson score lower bound of their keep rate
    (share of lineitems NOT returned) — the canonical fix for 'sort by
    average rating' that a naive rate ranking gets wrong on small n
    (Wilson 1927; the standard how-not-to-sort-by-rating result). The
    bound uses only +,-,*,/ and sqrt — ALL correctly-rounded IEEE ops —
    over exact integer counts with a fixed evaluation order, so the
    doubles are bit-identical cross-engine and the ranking (ties:
    partkey) is deterministic without any integer trick. Selection via
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0)).alias("k"),
    )
    lb = s.select(
        "l_partkey",
        "n",
        "k",
        F.expr(
            "(CAST(k AS DOUBLE) / n"
            " + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2 * n)"
            " - CAST(1.96 AS DOUBLE) * sqrt(((CAST(k AS DOUBLE) / n)"
            "   * (CAST(1 AS DOUBLE) - CAST(k AS DOUBLE) / n)"
            "   + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (4 * n))"
            "   / n))"
            " / (CAST(1 AS DOUBLE)"
            "    + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / n)"
        ).alias("wilson_lb"),
    )
    top = lb.orderBy(F.col("wilson_lb").desc(), F.col("l_partkey").asc()).limit(
        20
    )
    return (
        top.coalesce(1)
        .sortWithinPartitions(
            F.col("wilson_lb").desc(), F.col("l_partkey").asc()
        )
        .select(
            "l_partkey",
            F.col("n").cast("double").alias("n_d"),
            F.col("k").cast("double").alias("kept_d"),
            F.col("wilson_lb").alias("wilson_lb_d"),
            (F.monotonically_increasing_id() + 1).cast("int").alias("rnk"),
        )
    )


def _markov_acc_oracle() -> str:
    """Model-evaluation composite: nest the VERIFIED transition-matrix
    statement (the corpus_curation composition rule), pick each prev
    type's argmax next (ties: type name), score every bigram."""
    tm_sql = _REGISTRY["event_transition_matrix"].oracle
    return f"""
    WITH tm AS (SELECT * FROM ({tm_sql}) q),
    best AS (
      SELECT prev_type, next_type AS predicted
      FROM tm
      QUALIFY row_number() OVER (PARTITION BY prev_type
               ORDER BY n_d DESC, next_type ASC) = 1),
    p AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events),
    b AS (SELECT prev_type, next_type FROM p WHERE prev_type IS NOT NULL)
    SELECT b.prev_type, any_value(bs.predicted) AS predicted,
           CAST(count(*) AS DOUBLE) AS n_bigrams_d,
           CAST(sum(CASE WHEN b.next_type = bs.predicted
                         THEN 1 ELSE 0 END) AS DOUBLE) AS n_correct_d,
           CAST((sum(CASE WHEN b.next_type = bs.predicted THEN 1 ELSE 0 END)
                 * CAST(1000000 AS BIGINT)) // count(*) AS DOUBLE)
             AS acc_ppm_d
    FROM b JOIN best bs USING (prev_type)
    GROUP BY 1
"""


@register("markov_next_event_accuracy", _markov_acc_oracle())
def q_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluating the in-engine Markov model: per previous event type,
    the top-1 next-event prediction (argmax transition count, ties by
    name) and its empirical accuracy over all bigrams — the
    train-and-score loop closed entirely inside the engine, with
    accuracy in exact integer ppm. Composes the verified
    event_transition_matrix statement as the model; the scorer re-lags
    the corpus with the same user-partitioned window and broadcast-joins
    the 5-row argmax table."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    c = p.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    bw = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("next_type").asc()
    )
    best = (
        c.withColumn("rn", F.row_number().over(bw))
        .where(F.col("rn") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    return (
        p.join(F.broadcast(best), "prev_type")
        .groupBy("prev_type")
        .agg(
            F.first("predicted").alias("predicted"),
            F.count(F.lit(1)).alias("nb"),
            F.sum(
                F.when(F.col("next_type") == F.col("predicted"), 1).otherwise(0)
            ).alias("nc"),
        )
        .select(
            "prev_type",
            "predicted",
            F.col("nb").cast("double").alias("n_bigrams_d"),
            F.col("nc").cast("double").alias("n_correct_d"),
            F.expr(
                "CAST(nc * CAST(1000000 AS BIGINT) div nb AS DOUBLE)"
            ).alias("acc_ppm_d"),
        )
    )


_RANSAC_ORACLE = """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1992-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             sum(CAST(floor(o_totalprice) AS BIGINT)) AS y
      FROM orders GROUP BY 1),
    rk AS (
      SELECT a.t, a.y, count(*) - 1 AS r
      FROM daily a JOIN daily b ON b.t <= a.t
      GROUP BY a.t, a.y),
    meta AS (
      SELECT count(*) AS d,
             (max(y) - min(y)) // 10 AS tol
      FROM daily),
    cand AS (
      SELECT c,
        ('0x' || substr(md5('ransac:a:' || CAST(c AS VARCHAR)), 1, 7))
          ::UBIGINT::BIGINT % (SELECT d FROM meta) AS i1,
        ('0x' || substr(md5('ransac:b:' || CAST(c AS VARCHAR)), 1, 7))
          ::UBIGINT::BIGINT % (SELECT d FROM meta) AS i2
      FROM (SELECT unnest(range(0, 100)) AS c)
      WHERE ('0x' || substr(md5('ransac:a:' || CAST(c AS VARCHAR)), 1, 7))
          ::UBIGINT::BIGINT % (SELECT d FROM meta)
        != ('0x' || substr(md5('ransac:b:' || CAST(c AS VARCHAR)), 1, 7))
          ::UBIGINT::BIGINT % (SELECT d FROM meta)),
    model AS (
      SELECT cand.c, p1.t AS t1, p1.y AS y1, p2.t AS t2, p2.y AS y2
      FROM cand JOIN rk p1 ON p1.r = cand.i1
                JOIN rk p2 ON p2.r = cand.i2),
    scored AS (
      SELECT m.c, count(*) AS n_in
      FROM model m JOIN daily d
        ON abs((d.y - m.y1) * (m.t2 - m.t1)
               - (m.y2 - m.y1) * (d.t - m.t1))
           <= (SELECT tol FROM meta) * abs(m.t2 - m.t1)
      GROUP BY 1),
    best AS (
      SELECT m.c, m.t1, m.y1, m.t2, m.y2, s.n_in
      FROM model m JOIN scored s USING (c)
      QUALIFY row_number() OVER (ORDER BY s.n_in DESC, m.c ASC) = 1),
    inl AS (
      SELECT d.t, d.y
      FROM daily d, best b
      WHERE abs((d.y - b.y1) * (b.t2 - b.t1)
                - (b.y2 - b.y1) * (d.t - b.t1))
            <= (SELECT tol FROM meta) * abs(b.t2 - b.t1)),
    fit AS (
      SELECT count(*) AS n, sum(t) AS st, sum(y) AS sy,
             sum(t * t) AS stt, sum(t * y) AS sty
      FROM inl)
    SELECT b.c AS best_candidate,
           CAST(b.n_in AS DOUBLE) AS n_inliers_d,
           CAST((SELECT count(*) FROM daily) AS DOUBLE) AS n_days_d,
           CAST(f.n * f.sty - f.st * f.sy AS DOUBLE)
             * CAST(1000000 AS DOUBLE)
             / CAST(f.n * f.stt - f.st * f.st AS DOUBLE) AS slope_ppm_d,
           CAST(b.n_in * CAST(1000000 AS BIGINT)
                // (SELECT count(*) FROM daily) AS DOUBLE)
             AS inlier_frac_ppm_d
    FROM best b, fit f
"""


@register("ransac_daily_trend", _RANSAC_ORACLE)
def q_ransac_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC robust line fit of the daily revenue trend (Fischler &
    Bolles 1981) with ZERO RNG: the 100 candidate point-pairs come from
    the content-free md5 index idiom, the inlier test is the
    DIVISION-FREE cross-multiplied residual |(y-y1)(t2-t1) -
    (y2-y1)(t-t1)| <= tol*|t2-t1| (pure BIGINT — no slope is ever
    materialized during scoring), the consensus argmax ties on the
    candidate id, and the final refit on the inlier set is the exact
    integer OLS moments with ONE double expression at the end — so the
    entire robust fit is bit-exact and hash-checked. The sampling
    alternative to Theil-Sen's O(n^2) pair median. Scale shape: the
    corpus collapses to the calendar-bounded daily frame first; ranks
    come from the O(C^2) bounded self-join idiom (no partition-less
    window); scoring is a 100 x days broadcast join."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1992-01-01").cast("timestamp"),
        ).alias("t")
    ).agg(
        F.expr("sum(CAST(floor(o_totalprice) AS BIGINT))").alias("y")
    ).transform(sizing.materialize, "ransac daily series")
    b = daily.select(F.col("t").alias("t2"), F.col("y").alias("y2"))
    rk = (
        daily.join(b, F.col("t2") <= F.col("t"))
        .groupBy("t", "y")
        .agg((F.count(F.lit(1)) - 1).alias("r"))
    )
    meta = daily.agg(
        F.count(F.lit(1)).alias("d"),
        F.expr("(max(y) - min(y)) div 10").alias("tol"),
    )
    h = (
        lambda salt: F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"ransac:{salt}:"), F.col("c").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
    )
    spark_ = orders.sparkSession
    cand = (
        spark_.range(100)
        .select(F.col("id").cast("int").alias("c"))
        .crossJoin(F.broadcast(meta))
        .select(
            "c",
            "tol",
            (h("a") % F.col("d")).alias("i1"),
            (h("b") % F.col("d")).alias("i2"),
        )
        .where(F.col("i1") != F.col("i2"))
    )
    p1 = rk.select(
        F.col("r").alias("i1"), F.col("t").alias("t1"), F.col("y").alias("y1")
    )
    p2 = rk.select(
        F.col("r").alias("i2"), F.col("t").alias("t2"), F.col("y").alias("y2")
    )
    model = cand.join(F.broadcast(p1), "i1").join(F.broadcast(p2), "i2")
    resid_ok = (
        "abs((y - y1) * (t2 - t1) - (y2 - y1) * (t - t1))"
        " <= tol * abs(t2 - t1)"
    )
    scored = (
        F.broadcast(model)
        .join(daily, F.expr(resid_ok))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n_in"))
    )
    best = (
        model.join(scored, "c")
        .orderBy(F.col("n_in").desc(), F.col("c").asc())
        .limit(1)
    )
    inl = daily.crossJoin(F.broadcast(best)).where(F.expr(resid_ok))
    fit = inl.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("t * t")).alias("stt"),
        F.sum(F.expr("t * y")).alias("sty"),
    )
    nd = daily.agg(F.count(F.lit(1)).alias("nd"))
    return (
        best.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("c").alias("best_candidate"),
            F.col("n_in").cast("double").alias("n_inliers_d"),
            F.col("nd").cast("double").alias("n_days_d"),
            F.expr(
                "CAST(n * sty - st * sy AS DOUBLE)"
                " * CAST(1000000 AS DOUBLE)"
                " / CAST(n * stt - st * st AS DOUBLE)"
            ).alias("slope_ppm_d"),
            F.expr(
                "CAST(n_in * CAST(1000000 AS BIGINT) div nd AS DOUBLE)"
            ).alias("inlier_frac_ppm_d"),
        )
    )


_VARINT_BYTES = """CASE WHEN {g} < 128 THEN 1
        WHEN {g} < 16384 THEN 2
        WHEN {g} < 2097152 THEN 3
        WHEN {g} < 268435456 THEN 4
        ELSE 5 END"""

_POSTINGS_VARINT_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    hit AS (
      SELECT DISTINCT doc_id, term
      FROM d, unnest(['spark', 'window', 'join']) AS u(term)
      WHERE list_contains(t, term)),
    gaps AS (
      SELECT term, CAST(doc_id % 4 AS INT) AS shard,
             doc_id - coalesce(lag(doc_id) OVER (
               PARTITION BY term, doc_id % 4 ORDER BY doc_id), -1) AS g
      FROM hit),
    b AS (
      SELECT term, shard, count(*) AS n_docs,
             sum({_VARINT_BYTES.format(g='g')}) AS vbytes
      FROM gaps GROUP BY 1, 2)
    SELECT term, shard,
           CAST(n_docs AS DOUBLE) AS n_docs_d,
           CAST(vbytes AS DOUBLE) AS varint_bytes_d,
           CAST(n_docs * 8 AS DOUBLE) AS raw_bytes_d,
           CAST((n_docs * 8 - vbytes) * CAST(1000000 AS BIGINT)
                // (n_docs * 8) AS DOUBLE) AS savings_ppm_d
    FROM b
"""


@register("postings_delta_varint", _POSTINGS_VARINT_ORACLE)
def q_postings_delta_varint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta + varint compression sizing of the inverted index — the
    IR-engineering arithmetic behind every postings format (gap-encode
    the sorted doc ids, LEB128-size each gap): per (term, shard), the
    exact compressed byte count from a CASE ladder (no log()), the raw
    8-byte-per-doc baseline, and the savings in integer ppm. The gap
    window partitions BY (term, shard) — the same per-key shape as the
    index build itself. First doc id gap-encodes against -1 so an
    id of 0 still costs >= 1 byte."""
    ev = _t(spark, sf_dir, "documents")
    from ..operators.text import tokens_col

    hit = (
        ev.select(
            "doc_id",
            F.explode(F.array_distinct(tokens_col(F.col("text")))).alias(
                "term"
            ),
        )
        .where(F.col("term").isin("spark", "window", "join"))
        .distinct()
    )
    w = Window.partitionBy("term", (F.col("doc_id") % 4)).orderBy("doc_id")
    gaps = hit.select(
        "term",
        (F.col("doc_id") % 4).cast("int").alias("shard"),
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(w), F.lit(-1))
        ).alias("g"),
    )
    b = gaps.groupBy("term", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr(_VARINT_BYTES.format(g="g"))).alias("vbytes"),
    )
    return b.select(
        "term",
        "shard",
        F.col("n_docs").cast("double").alias("n_docs_d"),
        F.col("vbytes").cast("double").alias("varint_bytes_d"),
        (F.col("n_docs") * 8).cast("double").alias("raw_bytes_d"),
        F.expr(
            "CAST((n_docs * 8 - vbytes) * CAST(1000000 AS BIGINT)"
            " div (n_docs * 8) AS DOUBLE)"
        ).alias("savings_ppm_d"),
    )


_REUSE_DIST_ORACLE = """
    WITH op AS (
      SELECT DISTINCT o.o_custkey AS c, o.o_orderkey AS ok,
             o.o_orderdate AS od, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    ordpos AS (
      SELECT c, ok,
             row_number() OVER (PARTITION BY c ORDER BY od, ok) AS pos
      FROM (SELECT DISTINCT c, ok, od FROM op) q),
    seq AS (
      SELECT op.c, op.part, p.pos
      FROM op JOIN ordpos p ON p.c = op.c AND p.ok = op.ok),
    pr AS (
      SELECT c, part, pos,
             lag(pos) OVER (PARTITION BY c, part ORDER BY pos) AS prev
      FROM seq),
    re AS (SELECT c, part, pos, prev FROM pr WHERE prev IS NOT NULL),
    dist AS (
      SELECT r.c, r.pos, r.part, count(DISTINCT s.part) AS d
      FROM re r JOIN seq s
        ON s.c = r.c AND s.pos > r.prev AND s.pos < r.pos
      GROUP BY 1, 2, 3
      UNION ALL
      SELECT c, pos, part, 0 AS d FROM re
      WHERE prev = pos - 1),
    h AS (
      SELECT least(d, 10) AS bucket, count(*) AS n FROM dist GROUP BY 1),
    tot AS (SELECT sum(n) AS t FROM h)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(n AS DOUBLE) AS n_d,
           CAST(n * CAST(1000000 AS BIGINT) // t AS DOUBLE) AS share_ppm_d
    FROM h, tot
"""


@register("reuse_distance_histogram", _REUSE_DIST_ORACLE)
def q_reuse_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reuse-distance (stack-distance) histogram of part re-purchases
    per customer — the canonical cache-engineering artifact (Mattson et
    al., 1970): for every re-accessed part, the number of DISTINCT
    other parts bought in the orders strictly between its consecutive
    occurrences; the histogram yields the hit rate of an LRU of ANY
    capacity k (hits = mass with distance < k) without simulating a
    particular cache. The access sequence is defined at the ORDER
    level — (c, order) positions via a key-partitioned row_number over
    the UNIQUE (o_orderdate, o_orderkey) pair — because this testdata's
    (l_orderkey, l_linenumber) is NOT unique, so any lineitem-level
    ordering would be nondeterministic (found the hard way: DuckDB
    returned different histograms across runs of the same query).
    Exact integers; the between-orders distinct count is a
    per-customer range self-join bounded by the per-customer order
    count (the O(L^2)-per-key idiom); positions are dense per customer,
    so zero distance is exactly order-adjacency. Shares in integer
    ppm; distances clamp at 10+."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    op = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderdate").alias("od"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
    )
    wo = Window.partitionBy("c").orderBy("od", "ok")
    ordpos = (
        op.select("c", "ok", "od")
        .distinct()
        .withColumn("pos", F.row_number().over(wo))
        .select("c", "ok", "pos")
    )
    seq = op.join(ordpos, ["c", "ok"]).select(
        "c", "part", "pos"
    )
    wp = Window.partitionBy("c", "part").orderBy("pos")
    re = (
        seq.withColumn("prev", F.lag("pos").over(wp))
        .where(F.col("prev").isNotNull())
        .select("c", "part", "pos", "prev")
    )
    s2 = seq.select(
        F.col("c").alias("c2"),
        F.col("part").alias("p2"),
        F.col("pos").alias("pos2"),
    )
    matched = (
        re.join(
            s2,
            (F.col("c2") == F.col("c"))
            & (F.col("pos2") > F.col("prev"))
            & (F.col("pos2") < F.col("pos")),
        )
        .groupBy("c", "pos", "part")
        .agg(F.countDistinct("p2").alias("d"))
    )
    zeros = re.where(F.col("prev") == F.col("pos") - 1).select(
        "c", "pos", "part", F.lit(0).alias("d")
    )
    dist = matched.select("c", "pos", "part", "d").unionByName(zeros)
    h = dist.groupBy(
        F.least(F.col("d"), F.lit(10)).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = h.agg(F.sum("n").alias("t"))
    return h.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.col("n").cast("double").alias("n_d"),
        F.expr(
            "CAST(n * CAST(1000000 AS BIGINT) div t AS DOUBLE)"
        ).alias("share_ppm_d"),
    )


_ASSORT_ORACLE = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (SELECT pa AS src, pb AS dst FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
    de AS (
      SELECT da.d AS x, db.d AS y
      FROM edges e
      JOIN deg da ON da.node = e.src
      JOIN deg db ON db.node = e.dst),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM de)
    SELECT CAST(n AS DOUBLE) AS n_directed_edges_d,
           CAST(sx AS DOUBLE) / n AS mean_deg_at_edge_d,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS assortativity_d
    FROM m
"""


@register("degree_assortativity", _ASSORT_ORACLE)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman, PRL 2002):
    the Pearson correlation of endpoint degrees over all directed edges
    — do popular parts co-sell with popular parts (r > 0, social-style)
    or with niche ones (r < 0, hub-and-spoke)? Complements the local
    clustering/triangle metrics with the global mixing view. Exact
    BIGINT moments over the edge list; the final r is cross-multiplied
    n*Sxy - Sx*Sy over sqrt products — +,-,*,/ and sqrt only, fixed
    order, ANSI-guarded on degenerate variance. By symmetry of the
    directed edge list, x and y moments coincide — kept separate so the
    formula is the general one."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok").where(F.col("pa") < F.col("pb")).select("pa", "pb").distinct()
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    de = (
        edges.join(
            deg.select(F.col("node").alias("src"), F.col("d").alias("x")), "src"
        ).join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("y")), "dst"
        )
    )
    m = de.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    return m.select(
        F.col("n").cast("double").alias("n_directed_edges_d"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_deg_at_edge_d"),
        F.expr(
            "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0"
            " THEN CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
            "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END"
        ).alias("assortativity_d"),
    )


@register(
    "wire_format_gauntlet",
    """
    SELECT event_id, ts, CAST(user_id AS DOUBLE) AS user_id_d,
           event_type, value, props
    FROM events
    """,
)
def q_wire_format_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec composability end-to-end: every event row rides through
    FOUR wire formats back-to-back — Avro binary (schema-ful,
    timestamp-micros logical type) -> MessagePack (schemaless rows) ->
    BSON (Mongo wire) -> Arrow IPC (columnar) — decode following each
    encode, with the parquet table as the oracle, so ONE bit lost
    anywhere in any codec (null handling, integer widths, IEEE doubles,
    timestamp micros) breaks the hash. This is the conversion gauntlet
    a heterogeneous pipeline actually performs (Kafka Avro in, Mongo
    out, Arrow on every Python hop). Eight narrow Arrow map stages; no
    shuffle anywhere."""
    from ..sources import arrow_ipc, avro_py, bson_py, msgpack_py

    ev = _t(spark, sf_dir, "events")
    schema_json = avro_py.avro_schema_for(ev.schema)
    leg1 = avro_py.decode_avro_py(
        avro_py.encode_avro_py(ev, schema_json), schema_json
    )
    cols = ["event_id", "ts_micros", "user_id", "event_type", "value", "props"]
    ddl = (
        "event_id bigint, ts_micros bigint, user_id bigint,"
        " event_type string, value double, props string"
    )
    wire = leg1.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_micros"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    leg2 = msgpack_py.decode_msgpack(
        msgpack_py.encode_msgpack(wire, cols), cols, ddl
    )
    leg3 = bson_py.decode_bson(bson_py.encode_bson(leg2, cols), cols, ddl)
    leg4 = arrow_ipc.decode_arrow_ipc(
        arrow_ipc.encode_arrow_ipc(leg3, ddl), ddl
    )
    return leg4.select(
        "event_id",
        F.timestamp_micros(F.col("ts_micros")).alias("ts"),
        F.col("user_id").cast("double").alias("user_id_d"),
        "event_type",
        "value",
        "props",
    )


_HIST_EQ_ORACLE = """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 25 AS INT) AS width,
             CAST(8 + (doc_id * 3) % 17 AS INT) AS height
      FROM documents),
    rows_ AS (
      SELECT doc_id, width, height,
             unnest(generate_series(0, height - 1)) AS y
      FROM dims),
    v AS (SELECT doc_id, width, height, (doc_id + y) % 256 AS val
          FROM rows_),
    r AS (
      SELECT doc_id, width, height, val,
             rank() OVER (PARTITION BY doc_id ORDER BY val) AS rk
      FROM v),
    eqv AS (
      SELECT doc_id, width, height,
             (rk * width * 255) // (width * height) AS eq
      FROM r)
    SELECT doc_id, any_value(width) AS width, any_value(height) AS height,
           CAST(count(*) AS INT) AS n_levels,
           CAST(sum(width * eq) AS DOUBLE) AS sum_eq_d,
           CAST(min(eq) AS DOUBLE) AS min_eq_d,
           CAST(max(eq) AS DOUBLE) AS max_eq_d,
           'bmp-hist-eq' AS decoder
    FROM eqv GROUP BY doc_id
"""


@register("multimodal_hist_equalize", _HIST_EQ_ORACLE)
def q_multimodal_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram equalization over the REAL decoded BMP images
    (multimodal.hist_equalize): gray histogram -> integer-floor CDF
    remap eq(v) = cdf(v)*255 div total -> exact equalized statistics.
    The first image ENHANCEMENT kernel (decode/resize/fingerprint
    existed; this transforms pixel VALUES), and the oracle replays the
    remap analytically from the deterministic row pattern — each image
    row is one gray level of width pixels, so cdf(row value) = rank *
    width and the whole equalization collapses to rank arithmetic. A
    single wrong pixel or a biased CDF breaks the hash."""
    from ..operators import multimodal as mm

    bmp = mm.synthesize_payload(_t(spark, sf_dir, "documents"), "image/bmp")
    out = mm.hist_equalize(bmp)
    return out.select(
        "doc_id",
        "width",
        "height",
        "n_levels",
        F.col("sum_eq").cast("double").alias("sum_eq_d"),
        F.col("min_eq").cast("double").alias("min_eq_d"),
        F.col("max_eq").cast("double").alias("max_eq_d"),
        "decoder",
    )


_WINNOW_ORACLE = r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                      i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END AS s
      FROM d),
    hs AS (
      SELECT doc_id,
             list_transform(s, g ->
               ('0x' || substr(md5(g), 1, 7))::UBIGINT::BIGINT % 268435456)
               AS h
      FROM sh WHERE len(s) >= 4),
    fp AS (
      SELECT DISTINCT doc_id, unnest(
               list_distinct(list_transform(range(1, len(h) - 2),
                 i -> list_aggregate(h[i:i+3], 'min')))) AS fp
      FROM hs),
    dfq AS (SELECT fp, count(*) AS df FROM fp GROUP BY 1),
    kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN dfq USING (fp)
             WHERE dfq.df <= 50),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(n_shared AS DOUBLE) AS n_shared_d
    FROM pairs WHERE n_shared >= 3
"""


@register("winnowing_fingerprint_pairs", _WINNOW_ORACLE)
def q_winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) near-duplicate pairs (text.winnowing_pairs):
    k=3 shingle hashes, sliding-window-4 minima as fingerprints, pairs
    sharing >= 3 after hub-fingerprint removal — the guaranteed
    shared-substring detector joining MinHash (resemblance), PPJoin
    (exact Jaccard), containment (excerpts), SimHash and dHash in the
    dedup family."""
    from ..operators import text as t_ops

    return t_ops.winnowing_pairs(_t(spark, sf_dir, "documents"))


_PERM_TEST_ORACLE = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(datediff('day', DATE '1970-01-01',
                           date_trunc('day', ts)) AS BIGINT) AS epd,
             sum(CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT))
               AS y,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    obs AS (
      SELECT
        CASE WHEN sum(CASE WHEN (epd + 3) % 7 >= 5 THEN n ELSE 0 END) > 0
              AND sum(CASE WHEN (epd + 3) % 7 < 5 THEN n ELSE 0 END) > 0
          THEN abs(
            CAST(sum(CASE WHEN (epd + 3) % 7 >= 5 THEN y ELSE 0 END)
                 AS DOUBLE)
              / sum(CASE WHEN (epd + 3) % 7 >= 5 THEN n ELSE 0 END)
            - CAST(sum(CASE WHEN (epd + 3) % 7 < 5 THEN y ELSE 0 END)
                   AS DOUBLE)
              / sum(CASE WHEN (epd + 3) % 7 < 5 THEN n ELSE 0 END))
        END AS t_obs
      FROM daily),
    perms AS (SELECT unnest(range(0, 200)) AS b),
    lab AS (
      SELECT p.b, d.y, d.n,
             ('0x' || substr(md5('perm:' || CAST(p.b AS VARCHAR) || ':'
                                 || CAST(d.epd AS VARCHAR)), 1, 7))
               ::UBIGINT::BIGINT % 7 >= 5 AS grp
      FROM daily d CROSS JOIN perms p),
    stat AS (
      SELECT b,
        CASE WHEN sum(CASE WHEN grp THEN n ELSE 0 END) > 0
              AND sum(CASE WHEN NOT grp THEN n ELSE 0 END) > 0
          THEN abs(
            CAST(sum(CASE WHEN grp THEN y ELSE 0 END) AS DOUBLE)
              / sum(CASE WHEN grp THEN n ELSE 0 END)
            - CAST(sum(CASE WHEN NOT grp THEN y ELSE 0 END) AS DOUBLE)
              / sum(CASE WHEN NOT grp THEN n ELSE 0 END))
        END AS t_b
      FROM lab GROUP BY 1)
    SELECT (SELECT t_obs FROM obs) AS t_obs_micro_d,
           CAST(count(*) AS DOUBLE) AS n_perms_d,
           CAST(sum(CASE WHEN t_b >= (SELECT t_obs FROM obs)
                         THEN 1 ELSE 0 END) AS DOUBLE) AS n_extreme_d,
           CAST(((1 + sum(CASE WHEN t_b >= (SELECT t_obs FROM obs)
                               THEN 1 ELSE 0 END))
                 * CAST(1000000 AS BIGINT)) // (count(*) + 1) AS DOUBLE)
             AS p_value_ppm_d
    FROM stat WHERE t_b IS NOT NULL
"""


@register("randomization_test_weekend_value", _PERM_TEST_ORACLE)
def q_randomization_test_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (permutation-style) test of the weekend effect on
    mean event value with ZERO RNG: 200 md5 relabelings of the DAYS
    (each day re-drawn weekend with probability 2/7 — the weekend share;
    ``md5 % 7 >= 5`` selects {5, 6} — via the content-free
    hash idiom — a randomization test over the calendar-bounded daily
    aggregate, so the 200x fan-out costs nothing at any corpus size),
    statistic = |weekend mean - weekday mean| in exact micro-unit
    sums with ONE division per group, p = (1 + #extreme)/(B + 1) in
    integer ppm. The distribution-free sibling of ks_weekend_value_drift
    (which tests shape) and ab_test_lift (which assumes normality).
    Weekday anchors at epoch-day + 3 (1970-01-01 was a Thursday, index 3 Monday-based, so Sat/Sun land on 5/6), the
    engine-origin-free weekday idiom. Empty-group relabelings are
    ANSI-guarded NULL and excluded."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.expr(
            "CAST(datediff(date_trunc('day', ts), DATE '1970-01-01')"
            " AS BIGINT)"
        ).alias("epd"),
    ).agg(
        F.sum(
            F.expr("CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)")
        ).alias("y"),
        F.count(F.lit(1)).alias("n"),
    ).transform(sizing.materialize, "randomization test cells")

    def meandiff(grp_col: str):
        wy = F.sum(F.when(F.expr(grp_col), F.col("y")).otherwise(0))
        wn = F.sum(F.when(F.expr(grp_col), F.col("n")).otherwise(0))
        dy = F.sum(F.when(~F.expr(grp_col), F.col("y")).otherwise(0))
        dn = F.sum(F.when(~F.expr(grp_col), F.col("n")).otherwise(0))
        return F.when(
            (wn > 0) & (dn > 0),
            F.abs(
                wy.cast("double") / wn - dy.cast("double") / dn
            ),
        )

    obs = daily.agg(meandiff("(epd + 3) % 7 >= 5").alias("t_obs"))
    perms = ev.sparkSession.range(200).select(F.col("id").alias("b"))
    lab = daily.crossJoin(F.broadcast(perms)).select(
        "b",
        "y",
        "n",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("perm:"),
                            F.col("b").cast("string"),
                            F.lit(":"),
                            F.col("epd").cast("string"),
                        )
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("long")
            % 7
            >= 5
        ).alias("grp"),
    )
    stat = lab.groupBy("b").agg(
        F.when(
            (F.sum(F.when(F.col("grp"), F.col("n")).otherwise(0)) > 0)
            & (F.sum(F.when(~F.col("grp"), F.col("n")).otherwise(0)) > 0),
            F.abs(
                F.sum(F.when(F.col("grp"), F.col("y")).otherwise(0)).cast(
                    "double"
                )
                / F.sum(F.when(F.col("grp"), F.col("n")).otherwise(0))
                - F.sum(
                    F.when(~F.col("grp"), F.col("y")).otherwise(0)
                ).cast("double")
                / F.sum(F.when(~F.col("grp"), F.col("n")).otherwise(0))
            ),
        ).alias("t_b")
    )
    agg = (
        stat.where(F.col("t_b").isNotNull())
        .crossJoin(F.broadcast(obs))
        .agg(
            F.first("t_obs").alias("t_obs"),
            F.count(F.lit(1)).alias("np"),
            F.sum(
                F.when(F.col("t_b") >= F.col("t_obs"), 1).otherwise(0)
            ).alias("ne"),
        )
    )
    return agg.select(
        F.col("t_obs").alias("t_obs_micro_d"),
        F.col("np").cast("double").alias("n_perms_d"),
        F.col("ne").cast("double").alias("n_extreme_d"),
        F.expr(
            "CAST(((1 + ne) * CAST(1000000 AS BIGINT)) div (np + 1)"
            " AS DOUBLE)"
        ).alias("p_value_ppm_d"),
    )


_WASSERSTEIN_ORACLE = """
    WITH lab AS (
      SELECT CAST(floor(value) AS BIGINT) AS v,
             CAST(datediff('day', DATE '1970-01-01',
                           date_trunc('day', ts)) + 3 AS BIGINT) % 7 >= 5
               AS we
      FROM events WHERE value IS NOT NULL AND value >= 0),
    h AS (SELECT v, sum(CASE WHEN we THEN 1 ELSE 0 END) AS a,
                 sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS b
          FROM lab GROUP BY 1),
    n AS (SELECT sum(a) AS na, sum(b) AS nb FROM h),
    cum AS (
      SELECT x.v, sum(y.a) AS ca, sum(y.b) AS cb
      FROM h x JOIN h y ON y.v <= x.v
      GROUP BY x.v),
    nxt AS (
      SELECT c.v, c.ca, c.cb,
             min(o.v) - c.v AS gap
      FROM cum c JOIN cum o ON o.v > c.v
      GROUP BY c.v, c.ca, c.cb),
    w AS (
      SELECT sum(abs(x.ca * n.nb - x.cb * n.na) * x.gap) AS num
      FROM nxt x, n)
    SELECT CAST((SELECT na FROM n) AS DOUBLE) AS n_weekend_d,
           CAST((SELECT nb FROM n) AS DOUBLE) AS n_weekday_d,
           CAST(w.num AS DOUBLE) AS w1_num_d,
           CAST(w.num AS DOUBLE)
             / ((SELECT na FROM n) * CAST((SELECT nb FROM n) AS DOUBLE))
             AS w1_dollars_d
    FROM w
"""


@register("wasserstein_weekend_value", _WASSERSTEIN_ORACLE)
def q_wasserstein_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between the weekend and
    weekday event-value distributions — the drift metric that weighs
    HOW FAR mass moved (KS caps at the worst gap, TVD ignores
    geometry): W1 = integral |F_a - F_b| dx, computed EXACTLY over the
    dollar-bucketed histogram by cross-multiplication — num =
    sum over consecutive buckets of |cum_a*n_b - cum_b*n_a| * gap,
    a BIGINT, with ONE division for display. The histogram-of-values
    idiom bounds the O(C^2) prefix join by the ~500 distinct dollar
    buckets, never the corpus. Weekday anchors at epoch-day + 3
    (Monday-based). The last bucket contributes nothing (both CDFs
    are complete there), so the gap join over successors drops it."""
    ev = _t(spark, sf_dir, "events")
    lab = ev.where(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    ).select(
        F.expr("CAST(floor(value) AS BIGINT)").alias("v"),
        F.expr(
            "CAST(datediff(date_trunc('day', ts), DATE '1970-01-01') + 3"
            " AS BIGINT) % 7 >= 5"
        ).alias("we"),
    )
    h = lab.groupBy("v").agg(
        F.sum(F.when(F.col("we"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("we"), 1).otherwise(0)).alias("b"),
    )
    n = h.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    y = h.select(
        F.col("v").alias("v2"), F.col("a").alias("a2"), F.col("b").alias("b2")
    )
    # prefix/successor range joins over the ~500-cell histogram: broadcast
    # the bounded side explicitly or Spark's stats-blind planner picks
    # CartesianProduct (caught by tests/test_plan_lint.py)
    cum = (
        h.join(F.broadcast(y), F.col("v2") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("a2").alias("ca"), F.sum("b2").alias("cb"))
    )
    o = cum.select(F.col("v").alias("vn"))
    nxt = (
        cum.join(F.broadcast(o), F.col("vn") > F.col("v"))
        .groupBy("v", "ca", "cb")
        .agg((F.min("vn") - F.col("v")).alias("gap"))
    )
    w = nxt.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            * F.col("gap")
        ).alias("num"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    return w.select(
        F.col("na").cast("double").alias("n_weekend_d"),
        F.col("nb").cast("double").alias("n_weekday_d"),
        F.col("num").cast("double").alias("w1_num_d"),
        (
            F.col("num").cast("double")
            / (F.col("na") * F.col("nb").cast("double"))
        ).alias("w1_dollars_d"),
    )


def _hdr_oracle() -> str:
    """log2 bucketing without log(): bucket = position of the highest
    set bit of (gap seconds + 1), a CASE ladder over powers of two —
    exact integers on both engines."""
    ladder = " ".join(
        f"WHEN gs < {1 << (i + 1)} THEN {i}" for i in range(21)
    )
    return f"""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events WHERE user_id IS NOT NULL),
    s AS (SELECT (gap_us // 1000000) + 1 AS gs FROM g
          WHERE gap_us IS NOT NULL),
    b AS (SELECT CASE {ladder} ELSE 21 END AS bucket FROM s),
    h AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
    t AS (SELECT sum(n) AS tot FROM h)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST((CAST(1 AS BIGINT) << bucket) - 1 AS DOUBLE)
             AS bucket_floor_s_d,
           CAST(n AS DOUBLE) AS n_d,
           CAST(n * CAST(1000000 AS BIGINT) // tot AS DOUBLE) AS share_ppm_d
    FROM h, t
"""


@register("latency_hdr_histogram", _hdr_oracle())
def q_latency_hdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HdrHistogram-style exponential bucketing of per-user inter-event
    gaps — the latency-observability artifact (log2 buckets hold
    relative error under 100% at every magnitude, the reason HDR/DDSketch
    bucket exponentially): bucket = floor(log2(gap_s + 1)) computed as a
    CASE ladder over power-of-two literals (no log(), the
    postings-varint discipline), shares in integer ppm. The lag window
    partitions BY USER; the histogram is ~22 cells. bucket_floor_s_d is
    display-only, built from an exact integer shift (pow() is
    banned by the correctly-rounded discipline)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        ev.where(F.col("user_id").isNotNull())
        .select(
            (
                F.unix_micros(F.col("ts"))
                - F.lag(F.unix_micros(F.col("ts"))).over(w)
            ).alias("gap_us")
        )
        .where(F.col("gap_us").isNotNull())
        .select(F.expr("(gap_us div 1000000) + 1").alias("gs"))
    )
    ladder = " ".join(
        f"WHEN gs < {1 << (i + 1)} THEN {i}" for i in range(21)
    )
    b = g.select(F.expr(f"CASE {ladder} ELSE 21 END").alias("bucket"))
    h = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    t = h.agg(F.sum("n").alias("tot"))
    return h.crossJoin(F.broadcast(t)).select(
        F.col("bucket").cast("int").alias("bucket"),
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), bucket) - 1 AS DOUBLE)"
        ).alias("bucket_floor_s_d"),
        F.col("n").cast("double").alias("n_d"),
        F.expr(
            "CAST(n * CAST(1000000 AS BIGINT) div tot AS DOUBLE)"
        ).alias("share_ppm_d"),
    )


_RAPID_REPEAT_ORACLE = """
    WITH g AS (
      SELECT user_id, event_type, event_id, ts,
             lag(event_id) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) AS prev_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS gap_us
      FROM events WHERE user_id IS NOT NULL)
    SELECT user_id, event_type,
           prev_id AS first_event_id, event_id AS second_event_id,
           CAST(gap_us // 1000000 AS DOUBLE) AS gap_s_d
    FROM g
    WHERE gap_us IS NOT NULL AND gap_us <= 600 * 1000000
"""


@register("rapid_repeat_screen", _RAPID_REPEAT_ORACLE)
def q_rapid_repeat_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-ingestion / double-submit audit: consecutive events of
    the SAME type by the SAME user within 10 minutes — the screen that
    catches retry storms, double-clicks and at-least-once ingestion
    replays (the audit-rule sibling of streaming_dedup_exact, which
    REMOVES byte-identical dupes; this FLAGS suspicious near-repeats
    that are not byte-identical). One lag window partitioned by
    (user, type); gaps compare in exact integer microseconds, reported
    in whole seconds (floor — both engines' integer div)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.where(F.col("user_id").isNotNull()).select(
        "user_id",
        "event_type",
        "event_id",
        F.lag("event_id").over(w).alias("prev_id"),
        (
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
        ).alias("gap_us"),
    )
    return (
        g.where(
            F.col("gap_us").isNotNull()
            & (F.col("gap_us") <= 600 * 1_000_000)
        )
        .select(
            "user_id",
            "event_type",
            F.col("prev_id").alias("first_event_id"),
            F.col("event_id").alias("second_event_id"),
            F.expr("CAST(gap_us div 1000000 AS DOUBLE)").alias("gap_s_d"),
        )
    )


def _ktruss_oracle(rounds: int = 2, k: int = 4) -> str:
    """Bounded-round 4-truss peeling, each round one MATERIALIZED CTE
    triple (triangle enumeration + support aggregation + filter) — the
    mmr-oracle inlining lesson applies: e{r} / tri{r} are referenced by
    multiple successors. Each triangle a<b<c is enumerated ONCE and its
    support credited to ALL THREE edges (r7 ADVICE: the old wedge join
    credited only the lexicographically-smallest edge)."""
    sup = """
    tri{r} AS MATERIALIZED (
      SELECT ab.a, ab.b, ac.b AS c
      FROM e{r} ab
      JOIN e{r} ac ON ac.a = ab.a AND ac.b > ab.b
      JOIN e{r} bc ON bc.a = ab.b AND bc.b = ac.b),
    s{r} AS MATERIALIZED (
      SELECT a, b, count(*) AS sup FROM (
        SELECT a, b FROM tri{r}
        UNION ALL SELECT a, c FROM tri{r}
        UNION ALL SELECT b, c FROM tri{r}) q
      GROUP BY 1, 2)"""
    sql = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs) q
      GROUP BY 1),
    avgd AS (SELECT sum(d) // count(*) AS cap FROM deg),
    keep AS (SELECT node FROM deg, avgd WHERE d <= cap),
    e0 AS MATERIALIZED (
      SELECT pa AS a, pb AS b FROM pairs
      JOIN keep ka ON ka.node = pa JOIN keep kb ON kb.node = pb)"""
    for r in range(rounds):
        sql += "," + sup.format(r=r) + f""",
    e{r + 1} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{r} e
      JOIN s{r} s ON s.a = e.a AND s.b = e.b
      WHERE s.sup >= {k - 2})"""
    sql += f""",
    h AS (
      SELECT s.sup, count(*) AS n
      FROM e{rounds} e JOIN s{rounds - 1} s ON s.a = e.a AND s.b = e.b
      GROUP BY 1),
    c AS (SELECT (SELECT count(*) FROM e0) AS n0,
                 (SELECT count(*) FROM e{rounds}) AS nf)
    SELECT CAST(h.sup AS DOUBLE) AS support_d,
           CAST(h.n AS DOUBLE) AS n_edges_d,
           CAST(c.n0 AS DOUBLE) AS n_start_d,
           CAST(c.nf AS DOUBLE) AS n_survivors_d
    FROM h, c"""
    return sql


@register("ktruss_copurchase_peel", _ktruss_oracle())
def q_ktruss_copurchase_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round 4-truss peeling of the (degree-capped) co-purchase
    graph (Cohen 2008): support(edge) = triangles through it, edges
    with support < k-2 peel away, two rounds — the cohesion filter that
    separates genuinely clustered product communities from incidental
    co-occurrence (triangle counts give the local view; the truss is
    the edge-wise community core). Each triangle {a<b<c} is enumerated
    ONCE via the canonical-orientation 3-way join and its count is
    aggregated back to ALL THREE edges (a,b), (a,c), (b,c) — so support
    is Cohen's true per-edge triangle count, invariant under node
    relabeling (r7 ADVICE fix); above-average-degree hubs are
    removed first — a DATA-ADAPTIVE cap (the fixed-50 cap emptied this
    dense graph entirely: min co-purchase degree is 42 at sf0.01 and
    grows with SF, so any constant would eventually keep nothing or
    everything), keeping the wedge join O(n * cap^2). Output: the post-peel support histogram plus
    start/survivor edge counts. All integer."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    aa = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    bb = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        aa.join(bb, "ok").where(F.col("pa") < F.col("pb")).select("pa", "pb").distinct()
    )
    deg = (
        pairs.select(F.col("pa").alias("node"))
        .unionByName(pairs.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    cap = deg.agg(F.expr("sum(d) div count(1)").alias("cap"))
    keep = (
        deg.crossJoin(F.broadcast(cap))
        .where(F.col("d") <= F.col("cap"))
        .select("node")
    )
    e = (
        pairs.join(keep.withColumnRenamed("node", "pa"), "pa")
        .join(keep.withColumnRenamed("node", "pb"), "pb")
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .transform(sizing.materialize, "ktruss edges, round 0")
    )
    n0 = e.count()  # driver-bounded scalar (edge count)
    sup = None
    for _ in range(2):
        ac = e.select(F.col("a"), F.col("b").alias("c"))
        bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
        tri = e.join(ac, "a").where(F.col("c") > F.col("b")).join(bc, ["b", "c"])
        # each triangle a<b<c appears once; credit all three of its
        # edges in ONE pass (explode, not a 3-way union that would
        # re-execute the triangle join)
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                        F.struct(F.col("a").alias("a"), F.col("c").alias("b")),
                        F.struct(F.col("b").alias("a"), F.col("c").alias("b")),
                    )
                ).alias("ed")
            )
            .select("ed.a", "ed.b")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("sup"))
            .transform(sizing.materialize, "ktruss support, per peel")
        )
        e = (
            e.join(sup, ["a", "b"])
            .where(F.col("sup") >= 2)
            .select("a", "b")
            .transform(sizing.materialize, "ktruss edges, per peel")
        )
    nf = e.count()
    h = (
        e.join(sup, ["a", "b"])
        .groupBy("sup")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return h.select(
        F.col("sup").cast("double").alias("support_d"),
        F.col("n").cast("double").alias("n_edges_d"),
        F.lit(float(n0)).alias("n_start_d"),
        F.lit(float(nf)).alias("n_survivors_d"),
    )


@register("streaming_wasserstein_ingest", _WASSERSTEIN_ORACLE)
def q_streaming_wasserstein_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Wasserstein drift monitor maintained CONTINUOUSLY: the
    events replay emits stateless (dollar-bucket, weekend-flag) rows,
    ONE complete-mode groupBy keeps the additive 2 x ~500-cell
    histogram (bounded state — the streaming_seasonal_ingest
    contract), and the drained histogram runs the identical
    cross-multiplied CDF-gap arithmetic, so the batch oracle applies
    verbatim. Streaming twin #12 — the drift dashboard that updates
    per micro-batch without rescanning history."""
    stream = _replay_events(spark, sf_dir)
    lab = stream.where(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    ).select(
        F.expr("CAST(floor(value) AS BIGINT)").alias("v"),
        F.expr(
            "CAST(datediff(date_trunc('day', ts), DATE '1970-01-01') + 3"
            " AS BIGINT) % 7 >= 5"
        ).alias("we"),
    )
    per_cell = lab.groupBy("v").agg(
        F.sum(F.when(F.col("we"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("we"), 1).otherwise(0)).alias("b"),
    )
    h = stream_sinks.run_to_memory(
        per_cell,
        f"reg_stream_wasser_{next(_STREAM_SEQ)}",
        output_mode="complete",
    )
    n = h.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    y = h.select(
        F.col("v").alias("v2"), F.col("a").alias("a2"), F.col("b").alias("b2")
    )
    # prefix/successor range joins over the ~500-cell histogram: broadcast
    # the bounded side explicitly or Spark's stats-blind planner picks
    # CartesianProduct (caught by tests/test_plan_lint.py)
    cum = (
        h.join(F.broadcast(y), F.col("v2") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("a2").alias("ca"), F.sum("b2").alias("cb"))
    )
    o = cum.select(F.col("v").alias("vn"))
    nxt = (
        cum.join(F.broadcast(o), F.col("vn") > F.col("v"))
        .groupBy("v", "ca", "cb")
        .agg((F.min("vn") - F.col("v")).alias("gap"))
    )
    w = nxt.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            * F.col("gap")
        ).alias("num"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    return w.select(
        F.col("na").cast("double").alias("n_weekend_d"),
        F.col("nb").cast("double").alias("n_weekday_d"),
        F.col("num").cast("double").alias("w1_num_d"),
        (
            F.col("num").cast("double")
            / (F.col("na") * F.col("nb").cast("double"))
        ).alias("w1_dollars_d"),
    )
