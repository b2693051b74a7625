"""Round-7 additions: streaming maintenance twin for the perceptual
image-dedup family (VERDICT r6 #6) and subsequent round-7 operators.

Imported LAST from ``registry/__init__.py`` so the registration tail
order of all earlier queries is untouched.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401
from .q04_streamksql import _STREAM_SEQ  # noqa: F401
from .q06_sketchseries import _replay_documents  # noqa: F401


@register(
    "streaming_image_dedup",
    # The streamed document set is the FULL corpus (stateless append
    # emits every row; no watermark filtering), so the batch family
    # composite's verified oracle applies verbatim — the strongest
    # batch≡stream check available (same idiom as streaming_corpus_ingest).
    _REGISTRY["image_dedup_groups"].oracle,
)
def q_streaming_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the perceptual image-dedup family (the last
    north-star family without one — embeddings got ivf_ingest in r6):
    documents replayed as a file stream, PNG payloads synthesized and
    dHashed with the SAME narrow Arrow kernels as the batch path (both
    stages stateless → the append emission set equals the batch hash
    table exactly), then the continuously-maintained hash table is
    resolved into dedup groups by the banded-Hamming pair join + star
    components — the same split as the streaming quantile/rollup twins:
    ingest is continuous, resolution reads the drained state. Reference
    analog: the continuous topic-materialization pattern
    (README.md:41-52)."""
    docs = _t(spark, sf_dir, "documents")
    stream = _replay_documents(spark, sf_dir)
    hashes = multimodal.image_dhash(multimodal.synthesize_png_payload(stream))
    drained = stream_sinks.run_to_memory(
        hashes, f"reg_stream_imgdedup_{next(_STREAM_SEQ)}"
    )
    pairs = multimodal.image_near_dup_pairs_dhash(drained, max_hamming=3)
    return graph.dedup_groups(
        docs,
        pairs,
        id_col="doc_id",
        a_col="doc_a",
        b_col="doc_b",
    )


from ..ml import metrics as ml_metrics  # noqa: E402


@register(
    "event_transition_matrix",
    """
    WITH p AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events),
    c AS (SELECT prev_type, next_type, count(*) AS n
          FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT prev_type, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.prev_type, c.next_type, CAST(c.n AS DOUBLE) AS n_d,
           CAST((c.n * 1000000) // t.tot AS DOUBLE) AS prob_ppm_d
    FROM c JOIN t USING (prev_type)
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event-type
    sequence — the next-event model behind journey analytics. One lag
    window PARTITIONED BY USER over the events (same shape as the
    sessionizers), then the corpus collapses to the |types|^2 pair
    frame; probabilities are exact integer parts-per-million
    (n * 1e6 div tot — no float division, hash-stable anywhere)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = p.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return c.join(F.broadcast(t), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("double").alias("n_d"),
        F.expr("(n * 1000000L) div tot").cast("double").alias("prob_ppm_d"),
    )


@register(
    "roc_auc_purchase",
    """
    WITH cells AS (
      SELECT CAST(floor(value * 10) AS BIGINT) AS s,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS npos,
             sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS nneg
      FROM events GROUP BY 1),
    wb AS (
      SELECT c.s, c.npos, c.nneg,
             coalesce(sum(c2.npos + c2.nneg), 0) AS before
      FROM cells c LEFT JOIN cells c2 ON c2.s < c.s
      GROUP BY c.s, c.npos, c.nneg),
    agg AS (
      SELECT sum(npos * (2 * before + npos + nneg + 1)) AS ranksum2,
             sum(npos) AS np, sum(nneg) AS nn
      FROM wb)
    SELECT CAST(np AS DOUBLE) AS npos_d, CAST(nn AS DOUBLE) AS nneg_d,
           CAST(ranksum2 - np * (np + 1) AS DOUBLE) AS u2_d,
           CASE WHEN np > 0 AND nn > 0
                THEN CAST(ranksum2 - np * (np + 1) AS DOUBLE)
                     / CAST(2 * np * nn AS DOUBLE)
                ELSE 0.0 END AS auc
    FROM agg
    """,
)
def q_roc_auc_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact ROC-AUC (does event value separate purchases
    from the rest?): Mann-Whitney rank-sum with average-rank ties over
    the deci-quantized score, integer rank algebra, no global sort
    (ml/metrics.py roc_auc_binary)."""
    ev = _t(spark, sf_dir, "events")
    return ml_metrics.roc_auc_binary(
        ev,
        (F.col("event_type") == "purchase").cast("int"),
        F.col("value"),
        quantize=10,
    )


@register(
    "score_calibration_bins",
    """
    WITH g AS (
      SELECT least(9, CAST(floor(value / 50.0) AS BIGINT)) AS bin,
             count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS npos
      FROM events GROUP BY 1)
    SELECT CAST(bin AS DOUBLE) AS bin_d, CAST(n AS DOUBLE) AS n_d,
           CAST(npos AS DOUBLE) AS npos_d,
           CAST((npos * 1000000) // n AS DOUBLE) AS pos_rate_ppm_d
    FROM g
    """,
)
def q_score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram table for the value-as-score screen: ten
    fixed-width bins, observed purchase rate per bin in exact integer
    ppm (ml/metrics.py calibration_bins). One aggregation, no window."""
    ev = _t(spark, sf_dir, "events")
    return ml_metrics.calibration_bins(
        ev,
        (F.col("event_type") == "purchase").cast("int"),
        F.col("value"),
        bin_width=50.0,
        n_bins=10,
    )


@register(
    "mad_outliers_values",
    """
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY 1),
    mad AS (
      SELECT e.event_type,
             round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type),
    f AS (
      SELECT e.event_id, e.event_type, e.value, m.med, d.mad,
             abs(e.value - m.med) AS dev
      FROM events e
      JOIN med m ON e.event_type = m.event_type
      JOIN mad d ON e.event_type = d.event_type)
    SELECT event_id, event_type, value, med, mad,
           dev / (1.4826 * mad) AS robust_z
    FROM f
    WHERE mad > 0 AND dev > 3 * 1.4826 * mad
    """,
)
def q_mad_outliers_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen via median absolute deviation —
    the heavy-tail-safe twin of value_outliers_zscore (a polluted tail
    moves a stddev but not a median). Exact interpolated percentile per
    the order_value_percentiles contract; med/MAD rounded to 6 dp BEFORE
    the boundary comparison so the flagged set is engine-stable
    (operators/timeseries.py mad_outliers)."""
    ev = _t(spark, sf_dir, "events")
    return timeseries.mad_outliers(ev, threshold=3.0)


@register(
    "cusum_changepoints",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS cnt
      FROM events GROUP BY 1, 2),
    st AS (SELECT event_type, count(*) AS d, sum(cnt) AS t
           FROM daily GROUP BY 1),
    c AS (
      SELECT daily.event_type, day, d, t,
             sum(cnt * d - t) OVER (PARTITION BY daily.event_type
                                    ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cusum
      FROM daily JOIN st USING (event_type))
    SELECT event_type, day AS change_day, CAST(cusum AS DOUBLE) AS cusum_d,
           CAST(d AS DOUBLE) AS n_days_d, CAST(t AS DOUBLE) AS total_d
    FROM c
    QUALIFY row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(cusum) DESC, day ASC) = 1
    """,
)
def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift locator per event type: the observed day with the
    largest |CUSUM| of the daily count series, integer-exact (deviations
    scaled by the day count so the running sum is a BIGINT ending at 0).
    All windows run on the calendar-bounded daily frame partitioned by
    key (operators/timeseries.py cusum_changepoints)."""
    ev = _t(spark, sf_dir, "events")
    return timeseries.cusum_changepoints(ev)


@register(
    "revenue_autocorr",
    """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             (sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000) AS x
      FROM orders GROUP BY 1),
    l AS (SELECT unnest(range(1, 8)) AS lag),
    p AS (SELECT lag, a.x AS xa, b.x AS xb
          FROM daily a CROSS JOIN l JOIN daily b ON b.t = a.t + lag),
    g AS (SELECT lag, count(*) AS n, sum(xa) AS sa, sum(xb) AS sb,
                 sum(xa * xb) AS sab, sum(xa * xa) AS saa,
                 sum(xb * xb) AS sbb
          FROM p GROUP BY 1)
    SELECT CAST(lag AS DOUBLE) AS lag_d, CAST(n AS DOUBLE) AS n_d,
           CASE WHEN (n * saa - sa * sa) > 0 AND (n * sbb - sb * sb) > 0
                THEN CAST(n * sab - sa * sb AS DOUBLE)
                     / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                        * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
                ELSE 0.0 END AS acf
    FROM g
    """,
)
def q_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily order revenue at lags 1..7 — the
    seasonality probe behind the seasonal-naive forecaster. Revenue
    pre-scaled to exact kilodollar integers (floor per order, integer
    div per day: deterministic on any engine, and n*sum(x^2) stays well
    under 2^63 / 2^53 at bench scales); the six per-lag sums are exact
    BIGINTs and the only float arithmetic is the single final Pearson
    expression (operators/timeseries.py autocorrelation)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1995-01-01").cast("timestamp"),
        ).alias("t")
    ).agg(
        F.expr(
            "sum(CAST(floor(o_totalprice) AS BIGINT)) div 1000L"
        ).alias("x")
    )
    return timeseries.autocorrelation(daily, t_col="t", x_col="x", max_lag=7)


@register(
    "user_life_table",
    """
    WITH span AS (
      SELECT user_id,
             datediff('day', date_trunc('day', min(ts)),
                      date_trunc('day', max(ts))) AS tenure,
             max(date_trunc('day', ts)) AS last_day
      FROM events GROUP BY user_id),
    horizon AS (SELECT max(date_trunc('day', ts)) AS maxd FROM events),
    lab AS (
      SELECT tenure,
             CASE WHEN datediff('day', last_day, maxd) < 7 THEN 1 ELSE 0 END
               AS censored
      FROM span CROSS JOIN horizon),
    g AS (SELECT tenure, count(*) AS n_total,
                 sum(1 - censored) AS d_churn, sum(censored) AS c_cens
          FROM lab GROUP BY 1),
    r AS (
      SELECT g.tenure, g.d_churn, g.c_cens, sum(g2.n_total) AS n_risk
      FROM g JOIN g g2 ON g2.tenure >= g.tenure
      GROUP BY g.tenure, g.d_churn, g.c_cens)
    SELECT CAST(tenure AS DOUBLE) AS tenure_d,
           CAST(n_risk AS DOUBLE) AS n_risk_d,
           CAST(d_churn AS DOUBLE) AS d_churn_d,
           CAST(c_cens AS DOUBLE) AS c_cens_d,
           CAST((d_churn * 1000000) // n_risk AS DOUBLE) AS hazard_ppm_d
    FROM r
    """,
)
def q_user_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier life table of user tenure (days between first and
    last observed event), right-censored for users still active within
    7 days of the corpus horizon: per tenure day, the number at risk,
    churn events, censored exits, and the discrete hazard in exact
    integer ppm. The corpus collapses to one row per user, then to one
    row per tenure day (bounded by the calendar span); the at-risk
    suffix sum is the O(C^2) broadcast self-join over that bounded
    frame — no partition-less window, all-integer output."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    span = ev.groupBy("user_id").agg(
        F.datediff(F.max(day), F.min(day)).alias("tenure"),
        F.max(day).alias("last_day"),
    )
    horizon = ev.agg(F.max(day).alias("maxd"))
    lab = span.crossJoin(F.broadcast(horizon)).select(
        "tenure",
        F.when(
            F.datediff(F.col("maxd"), F.col("last_day")) < 7, F.lit(1)
        ).otherwise(F.lit(0)).alias("censored"),
    )
    g = lab.groupBy("tenure").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.lit(1) - F.col("censored")).alias("d_churn"),
        F.sum("censored").alias("c_cens"),
    )
    g2 = g.select(F.col("tenure").alias("__t2"), F.col("n_total").alias("__n2"))
    r = (
        g.join(F.broadcast(g2), F.col("__t2") >= F.col("tenure"))
        .groupBy("tenure", "d_churn", "c_cens")
        .agg(F.sum("__n2").alias("n_risk"))
    )
    return r.select(
        F.col("tenure").cast("double").alias("tenure_d"),
        F.col("n_risk").cast("double").alias("n_risk_d"),
        F.col("d_churn").cast("double").alias("d_churn_d"),
        F.col("c_cens").cast("double").alias("c_cens_d"),
        F.expr("(d_churn * 1000000L) div n_risk")
        .cast("double")
        .alias("hazard_ppm_d"),
    )


@register(
    "tfidf_top_terms",
    r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS term FROM d),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
             tf.tf * ((n_docs - df + 0.5) / (df + 0.5)) AS tfidf
      FROM tf JOIN dfr USING (term) CROSS JOIN n)
    SELECT doc_id, term, CAST(tf AS DOUBLE) AS tf_d,
           CAST(df AS DOUBLE) AS df_d, tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS INTEGER)
             AS rnk
    FROM s QUALIFY rnk <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by log-free rational-idf TF-IDF
    (operators/text.py tfidf_top_terms) — the unsupervised tagging twin
    of keyword_bm25's fixed-query scoring."""
    return text.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@register(
    "weighted_sample_documents",
    """
    WITH h AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
                             1, 7))::UBIGINT::BIGINT % 268435456 AS hv
      FROM documents)
    SELECT doc_id, CAST(n_chars AS DOUBLE) AS n_chars_d,
           CAST(n_chars * 268435456 AS DOUBLE) / CAST(hv + 1 AS DOUBLE)
             AS priority
    FROM h ORDER BY priority DESC, doc_id LIMIT 200
    """,
)
def q_weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic length-weighted sample of 200 documents via
    priority sampling (w/u with a content-free md5 uniform; Duffield et
    al. 2007) — the weighted companion of stratified_sample_documents.
    No RNG, no pow/log, TakeOrderedAndProject top-k
    (operators/text.py priority_sample)."""
    return text.priority_sample(
        _t(spark, sf_dir, "documents"), k=200, salt="wsample"
    )


@register(
    "key_skew_profile",
    """
    WITH counts AS (SELECT l_suppkey, count(*) AS c FROM lineitem
                    GROUP BY 1),
    hist AS (SELECT c, count(*) AS m FROM counts GROUP BY 1),
    pref AS (SELECT h.c, h.m, coalesce(sum(h2.m), 0) AS kb
             FROM hist h LEFT JOIN hist h2 ON h2.c < h.c
             GROUP BY h.c, h.m),
    agg AS (SELECT sum(m) AS k, sum(c * m) AS t, max(c) AS maxc,
                   sum(c * (m * kb + (m * (m + 1)) // 2)) AS s1
            FROM pref),
    qv AS (SELECT q, min(c) AS pc
           FROM pref, agg, (SELECT unnest([50, 99]) AS q) qs
           WHERE kb + m >= (k * q + 99) // 100
           GROUP BY q)
    SELECT CAST(k AS DOUBLE) AS n_keys_d, CAST(t AS DOUBLE) AS n_rows_d,
           CAST(maxc AS DOUBLE) AS max_key_rows_d,
           CAST((maxc * 1000000) // t AS DOUBLE) AS top1_share_ppm_d,
           CAST((SELECT pc FROM qv WHERE q = 50) AS DOUBLE)
             AS p50_key_rows_d,
           CAST((SELECT pc FROM qv WHERE q = 99) AS DOUBLE)
             AS p99_key_rows_d,
           CAST(((2 * s1 - (k + 1) * t) * 1000000) // (k * t) AS DOUBLE)
             AS gini_ppm_d
    FROM agg
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for lineitem.l_suppkey — the planning
    input for the salted-join / AQE-skew decision the 100 TB operators
    document: key count, max and p50/p99 per-key row counts, top-1 key
    share, and the Gini coefficient of the key distribution, all in
    exact integer ppm.

    Scale shape: the corpus collapses to per-key counts (one shuffle),
    then to the HISTOGRAM OF COUNTS — bounded by the number of distinct
    per-key frequencies, orders of magnitude smaller than the key set —
    and every rank/prefix computation (percentiles, the sorted-index
    Gini sum) runs on that histogram via the O(C^2) broadcast-self-join
    prefix idiom. Exact Gini from grouped data: a run of m keys at count
    c starting after kb keys contributes c*(m*kb + m(m+1)/2) to the
    sorted-index sum. BIGINT bounds hold through ~1e9 keys x rows; lift
    to DECIMAL(38,0)/HUGEINT past that."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("c"))
    hist = counts.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    h2 = hist.select(F.col("c").alias("__c2"), F.col("m").alias("__m2"))
    pref = (
        hist.join(F.broadcast(h2), F.col("__c2") < F.col("c"), "left")
        .groupBy("c", "m")
        .agg(F.coalesce(F.sum("__m2"), F.lit(0)).alias("kb"))
    )
    agg = pref.agg(
        F.sum("m").alias("k"),
        F.sum(F.col("c") * F.col("m")).alias("t"),
        F.max("c").alias("maxc"),
        F.sum(
            F.col("c")
            * (
                F.col("m") * F.col("kb")
                + F.expr("(m * (m + 1)) div 2")
            )
        ).alias("s1"),
    )
    qdf = spark.createDataFrame([(50,), (99,)], "q int")
    qv = (
        pref.crossJoin(F.broadcast(agg.select("k")))
        .crossJoin(F.broadcast(qdf))
        .filter(F.col("kb") + F.col("m") >= F.expr("(k * q + 99) div 100"))
        .groupBy("q")
        .agg(F.min("c").alias("pc"))
    )
    p50 = qv.filter(F.col("q") == 50).select(F.col("pc").alias("p50c"))
    p99 = qv.filter(F.col("q") == 99).select(F.col("pc").alias("p99c"))
    return (
        agg.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .select(
            F.col("k").cast("double").alias("n_keys_d"),
            F.col("t").cast("double").alias("n_rows_d"),
            F.col("maxc").cast("double").alias("max_key_rows_d"),
            F.expr("(maxc * 1000000L) div t")
            .cast("double")
            .alias("top1_share_ppm_d"),
            F.col("p50c").cast("double").alias("p50_key_rows_d"),
            F.col("p99c").cast("double").alias("p99_key_rows_d"),
            F.expr("((2 * s1 - (k + 1) * t) * 1000000L) div (k * t)")
            .cast("double")
            .alias("gini_ppm_d"),
        )
    )


def _pagerank_oracle(iters: int = 6) -> str:
    """Unrolled fixed-point PageRank oracle: the verified
    ngram_jaccard_pairs statement nested as a derived table (the
    corpus_curation_pipeline composition rule), then r1..r{iters} CTEs
    generated mechanically — every operation integer, so the unrolled
    SQL replays Spark's loop exactly."""
    pairs_sql = _REGISTRY["ngram_jaccard_pairs"].oracle
    sql = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({pairs_sql}) q),
    edges AS (SELECT DISTINCT src, dst FROM (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs) u),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n_nodes FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    r0 AS (SELECT node, (1000000000000 // n_nodes) AS pr
           FROM nodes CROSS JOIN nn)"""
    for i in range(1, iters + 1):
        sql += f""",
    r{i} AS (
      SELECT n.node,
             (15 * (1000000000000 // nn.n_nodes)) // 100
               + (85 * coalesce(s.acc, 0)) // 100 AS pr
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.pr // d.outdeg) AS acc
        FROM edges e
        JOIN r{i - 1} p ON p.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst) s ON s.node = n.node)"""
    sql += f"""
    SELECT node AS doc_id, CAST(pr AS DOUBLE) AS pr_d
    FROM r{iters} ORDER BY pr DESC, node LIMIT 20"""
    return sql


@register("pagerank_near_dup", _pagerank_oracle(6))
def q_pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank hubs of the exact n-gram-Jaccard near-dup graph —
    which documents sit at the center of their duplication clusters (the
    natural canonical representative, vs dedup_groups' arbitrary
    min-id). Six integer fixed-point iterations (operators/graph.py
    pagerank): every rank in BIGINT micro-units, every update a div —
    deterministic under any summation order, engine, or partitioning,
    which is what makes an iterative float algorithm exactly oracleable
    at all. Selection via orderBy+limit (TakeOrderedAndProject)."""
    pairs = text.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))
    pr = graph.pagerank(pairs, iters=6)
    return pr.select(
        F.col("node").alias("doc_id"), F.col("pr").cast("double").alias("pr_d")
    ).orderBy(F.col("pr_d").desc(), F.col("doc_id").asc()).limit(20)


@register(
    "streaming_postings_ingest",
    # Stateless hit emission: the streamed hit set IS the batch hit set
    # (append mode, no watermark filtering), so the verified
    # term_postings_index oracle applies verbatim — the same batch≡stream
    # idiom as streaming_image_dedup / streaming_corpus_ingest.
    _REGISTRY["term_postings_index"].oracle,
)
def q_streaming_postings_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance twin of the inverted index: documents
    replayed as a file stream, the STATELESS hit stage (tokenize +
    posexplode + dictionary filter, operators/text.py term_hits) runs
    inside the stream — continuous ingest appends (doc_id, pos, term)
    hits per micro-batch — and the drained hit table resolves into
    sharded posting lists with the SAME batch kernel
    (postings_from_hits). Reference analog: continuous topic
    materialization (README.md:41-52); this is how a 100 TB index stays
    current — segment hits land incrementally, list resolution reads
    the accumulated segment store."""
    stream = _replay_documents(spark, sf_dir)
    hits = text.term_hits(stream, ["spark", "window", "join"])
    drained = stream_sinks.run_to_memory(
        hits, f"reg_stream_postings_{next(_STREAM_SEQ)}"
    )
    return text.postings_from_hits(drained, n_shards=4)


@register(
    "part_entity_groups",
    """
    WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
      SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM names),
    pairs AS (
      SELECT a.p_name AS na, b.p_name AS nb
      FROM blocked a
      JOIN blocked b ON a.blk = b.blk AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 3),
    edges AS (SELECT na AS u, nb AS v FROM pairs
              UNION ALL SELECT nb, na FROM pairs),
    reach(u, label) AS (
      SELECT p_name, p_name FROM names
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.u),
    comp AS (SELECT u AS p_name, min(label) AS entity_id
             FROM reach GROUP BY u),
    g AS (SELECT entity_id, count(*) AS sz FROM comp GROUP BY 1)
    SELECT c.p_name, c.entity_id, CAST(g.sz AS DOUBLE) AS group_size_d
    FROM comp c JOIN g USING (entity_id)
    """,
)
def q_part_entity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: the blocked-Levenshtein candidate
    pairs (fuzzy_name_matches' verified stage) resolved into transitive
    entity groups by distributed connected components — every name gets
    a canonical entity_id (min member) and its group size. The step a
    catalog-dedup pipeline runs after fuzzy matching, because typo
    similarity is transitive in practice (A~B, B~C => one entity). The
    components fixpoint is hash-checked against DuckDB's independent
    recursive-CTE evaluation (the dedup_components idiom, on string
    vertices)."""
    pairs = _REGISTRY["fuzzy_name_matches"].spark(spark, sf_dir)
    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    comp = graph.connected_components(
        pairs.select(
            F.col("name_a").alias("src"), F.col("name_b").alias("dst")
        ),
        names,
        id_col="p_name",
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        comp.join(sizes, "component")
        .select(
            "p_name",
            F.col("component").alias("entity_id"),
            F.col("sz").cast("double").alias("group_size_d"),
        )
    )


@register(
    "embedding_cluster_quality",
    """
    WITH comp AS (
      SELECT vec_id, lbl, u.pos AS dim, u.x AS x FROM (
        SELECT vec_id, label AS lbl,
               unnest(list_transform(CAST(embedding AS DOUBLE[]), (v, i) ->
                 struct_pack(pos := i - 1, x := v))) AS u
        FROM embeddings) q),
    cent AS (
      SELECT lbl, dim,
             CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS c
      FROM comp GROUP BY 1, 2),
    dev AS (
      SELECT lbl,
             CAST(floor((x - c) * (x - c) * 1000000000) AS BIGINT) AS q
      FROM comp JOIN cent USING (lbl, dim)),
    intra0 AS (SELECT lbl, sum(q) AS qsum, count(*) AS ncells
               FROM dev GROUP BY 1),
    dims AS (SELECT lbl, count(*) AS ndims FROM cent GROUP BY 1),
    intra AS (SELECT lbl, ncells // ndims AS n_members,
                     qsum // (ncells // ndims) AS intra_mean_nano
              FROM intra0 JOIN dims USING (lbl)),
    sep AS (
      SELECT a.lbl, b.lbl AS lbl2,
             sum(CAST(floor((a.c - b.c) * (a.c - b.c) * 1000000000)
                      AS BIGINT)) AS dist_nano
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.lbl <> b.lbl
      GROUP BY 1, 2),
    nearest AS (
      SELECT lbl, lbl2 AS nearest_lbl, dist_nano AS nearest_dist_nano
      FROM sep
      QUALIFY row_number() OVER (PARTITION BY lbl
                                 ORDER BY dist_nano, lbl2) = 1)
    SELECT CAST(lbl AS DOUBLE) AS label_d,
           CAST(n_members AS DOUBLE) AS n_d,
           CAST(intra_mean_nano AS DOUBLE) AS intra_mean_nano_d,
           CAST(nearest_lbl AS DOUBLE) AS nearest_label_d,
           CAST(nearest_dist_nano AS DOUBLE) AS nearest_dist_nano_d
    FROM intra JOIN nearest USING (lbl)
    """,
)
def q_embedding_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cluster cohesion/separation over the labeled embedding
    table (operators/similarity.py cluster_quality): exact-DECIMAL
    centroids, squared deviations quantized to integer nano-units so
    every summation is order-free BIGINT — the class-structure health
    check (Davies-Bouldin flavor) of an embedding training pipeline."""
    return similarity.cluster_quality(_t(spark, sf_dir, "embeddings"))


@register(
    "bigram_collocations",
    r"""
    WITH tok AS (
      SELECT doc_id, u.pos AS pos, u.term AS term FROM (
        SELECT doc_id,
               unnest(list_transform(
                 string_split_regex(lower(trim(text)), '\s+'),
                 (x, i) -> struct_pack(term := x, pos := i - 1))) AS u
        FROM documents) q),
    bi AS (
      SELECT term AS w1,
             lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok),
    bc AS (SELECT w1, w2, count(*) AS n_ab FROM bi
           WHERE w2 IS NOT NULL GROUP BY 1, 2),
    uni AS (SELECT term, count(*) AS n_u FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(n_u) AS BIGINT) AS n_uni FROM uni),
    totb AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi FROM bc),
    s AS (
      SELECT w1, w2, n_ab,
             ua.n_u AS n_a, ub.n_u AS n_b,
             CAST(n_ab AS DOUBLE) * n_uni / ua.n_u * n_uni / ub.n_u / n_bi
               AS lift
      FROM bc JOIN uni ua ON ua.term = w1
              JOIN uni ub ON ub.term = w2
      CROSS JOIN tot CROSS JOIN totb
      WHERE n_ab >= 5)
    SELECT w1, w2, CAST(n_ab AS DOUBLE) AS n_ab_d,
           CAST(n_a AS DOUBLE) AS n_a_d, CAST(n_b AS DOUBLE) AS n_b_d,
           lift
    FROM s ORDER BY lift DESC, w1, w2 LIMIT 20
    """,
)
def q_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by LIFT — P(ab)/(P(a)P(b)) with the
    log dropped from classic PMI (log is monotone; rational arithmetic
    is the cross-engine-exact form, the bm25 rationale). One lead
    window per document (partitioned by doc), bigram and unigram counts
    map-side combined, byte-sized totals broadcast, top-k via
    TakeOrderedAndProject. The phrase-mining step of a corpus
    pipeline (tokenizer vocab candidates, stopword-phrase screens)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("pos", "term"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = tok.select(
        F.col("term").alias("w1"), F.lead("term").over(w).alias("w2")
    ).filter(F.col("w2").isNotNull())
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    uni = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n_u"))
    tot = uni.agg(F.sum("n_u").alias("n_uni"))
    totb = bc.agg(F.sum("n_ab").alias("n_bi"))
    s = (
        bc.filter(F.col("n_ab") >= 5)
        .join(uni.select(F.col("term").alias("w1"), F.col("n_u").alias("n_a")), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("n_u").alias("n_b")), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(totb))
        .select(
            "w1",
            "w2",
            F.col("n_ab").cast("double").alias("n_ab_d"),
            F.col("n_a").cast("double").alias("n_a_d"),
            F.col("n_b").cast("double").alias("n_b_d"),
            (
                F.col("n_ab").cast("double")
                * F.col("n_uni") / F.col("n_a")
                * F.col("n_uni") / F.col("n_b")
                / F.col("n_bi")
            ).alias("lift"),
        )
    )
    return s.orderBy(
        F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)


@register(
    "copurchase_lift",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    pc AS (SELECT l_partkey, count(*) AS n_p FROM op GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_ab
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    s AS (
      SELECT part_a, part_b, n_ab, pa.n_p AS n_a, pb.n_p AS n_b,
             CAST(n_ab * n_orders AS DOUBLE) / CAST(pa.n_p * pb.n_p AS DOUBLE)
               AS lift
      FROM pairs JOIN pc pa ON pa.l_partkey = part_a
                 JOIN pc pb ON pb.l_partkey = part_b
      CROSS JOIN n
      WHERE n_ab >= 2)
    SELECT part_a, part_b, CAST(n_ab AS DOUBLE) AS n_ab_d,
           CAST(n_a AS DOUBLE) AS n_a_d, CAST(n_b AS DOUBLE) AS n_b_d,
           lift
    FROM s ORDER BY lift DESC, part_a, part_b LIMIT 20
    """,
)
def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: top-20 co-purchased part pairs by lift
    (support >= 2 orders). The pair join is WITHIN-ORDER — each order
    contributes O(items^2) with items bounded by basket size, never a
    catalog cross product — and the per-part priors broadcast back;
    exact integer counts, one fixed double expression for lift, top-k
    via TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    b = op.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        op.join(b, (F.col("l_orderkey") == F.col("__ok"))
                & (F.col("l_partkey") < F.col("part_b")))
        .groupBy(F.col("l_partkey").alias("part_a"), "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    s = (
        pairs.filter(F.col("n_ab") >= 2)
        .join(pc.select(F.col("l_partkey").alias("part_a"),
                        F.col("n_p").alias("n_a")), "part_a")
        .join(pc.select(F.col("l_partkey").alias("part_b"),
                        F.col("n_p").alias("n_b")), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("double").alias("n_ab_d"),
            F.col("n_a").cast("double").alias("n_a_d"),
            F.col("n_b").cast("double").alias("n_b_d"),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )
    return s.orderBy(
        F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(20)


@register(
    "k_anonymity_report",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n
      FROM customer GROUP BY 1, 2)
    SELECT CAST(c_nationkey AS DOUBLE) AS nationkey_d, c_mktsegment,
           CAST(n AS DOUBLE) AS n_d
    FROM g WHERE n < 10
    """,
)
def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity screen over the (nation, market-segment)
    quasi-identifier: every equivalence class smaller than k=10 — the
    rows a privacy review must generalize or suppress before release
    (the preventive companion of gdpr_purge_audit's curative path). One
    map-side-combined aggregation over the bounded quasi-id domain."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < 10)
        .select(
            F.col("c_nationkey").cast("double").alias("nationkey_d"),
            "c_mktsegment",
            F.col("n").cast("double").alias("n_d"),
        )
    )


@register(
    "ab_test_lift",
    """
    WITH u AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS grp,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                           END) >= 14 THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS x1,
             sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS x0
      FROM u)
    SELECT CAST(n1 AS DOUBLE) AS n1_d, CAST(x1 AS DOUBLE) AS x1_d,
           CAST(n0 AS DOUBLE) AS n0_d, CAST(x0 AS DOUBLE) AS x0_d,
           CAST((x1 * 1000000) // n1 AS DOUBLE) AS rate1_ppm_d,
           CAST((x0 * 1000000) // n0 AS DOUBLE) AS rate0_ppm_d,
           CASE WHEN (x1 + x0) > 0 AND (x1 + x0) < (n1 + n0)
                THEN (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
                     / sqrt((CAST(x1 + x0 AS DOUBLE) / (n1 + n0))
                            * (1 - CAST(x1 + x0 AS DOUBLE) / (n1 + n0))
                            * (1.0 / n1 + 1.0 / n0))
                ELSE 0.0 END AS z_stat
    FROM c
    """,
)
def q_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B readout (treatment = user_id parity,
    conversion = any purchase): exact integer counts and ppm rates,
    plus the pooled z-statistic through ONE fixed double expression —
    the experimentation-analysis surface, engine-exact with no round().
    Corpus collapses to one row per user, then to four integers."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy(
        "user_id", F.expr("CAST(user_id % 2 AS INT)").alias("grp")
    ).agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("conv")
    )
    c = u.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0)).alias("x1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0)).alias("x0"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p0 = F.col("x0").cast("double") / F.col("n0")
    pp = (F.col("x1") + F.col("x0")).cast("double") / (F.col("n1") + F.col("n0"))
    return c.select(
        F.col("n1").cast("double").alias("n1_d"),
        F.col("x1").cast("double").alias("x1_d"),
        F.col("n0").cast("double").alias("n0_d"),
        F.col("x0").cast("double").alias("x0_d"),
        F.expr("(x1 * 1000000L) div n1").cast("double").alias("rate1_ppm_d"),
        F.expr("(x0 * 1000000L) div n0").cast("double").alias("rate0_ppm_d"),
        F.when(
            (F.col("x1") + F.col("x0") > 0)
            & (F.col("x1") + F.col("x0") < F.col("n1") + F.col("n0")),
            (p1 - p0)
            / F.sqrt(
                pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n0"))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
    )


@register(
    "proto_source_roundtrip",
    """
    SELECT event_id, ts, CAST(user_id AS DOUBLE) AS user_id_d,
           event_type, value, props
    FROM events
    """,
)
def q_proto_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third Confluent wire format, executable in-sandbox
    (sources/proto_py.py — the proto3 BINARY encoding implemented
    pure-Python, completing the Avro + Debezium-JSON wire family):
    events pack into real proto3 messages (LEB128 varints, fixed64
    doubles, length-delimited strings, null = absent field) and decode
    back to typed columns. The parquet table is the oracle, so a hash
    match proves the round-trip lossless — including nullable user_id
    presence semantics and NaN-free double bit-exactness."""
    from ..sources import proto_py

    ev = _t(spark, sf_dir, "events")
    fields = [
        (1, "event_id", "int64"),
        (2, "ts_micros", "int64"),
        (3, "user_id", "int64"),
        (4, "event_type", "string"),
        (5, "value", "double"),
        (6, "props", "string"),
    ]
    wire_in = ev.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_micros"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    payloads = proto_py.encode_proto_py(wire_in, fields)
    decoded = proto_py.decode_proto_py(
        payloads,
        fields,
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
    "xml_wire_roundtrip",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
           o_orderdate
    FROM orders
    """,
)
def q_xml_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML interchange round-trip on Spark 4's NATIVE XML support
    (from_xml — the spark-xml package folded into core): each order
    serializes to an XML record (JVM concat — shortest-repr doubles,
    ISO timestamps) and parses back through from_xml's schema-driven
    reader. The parquet table is the oracle: a hash match proves the
    print/parse cycle is lossless for longs, doubles, strings, and
    timestamps. Completes the interchange family: JSONL, CSV, ORC,
    Avro binary, Debezium JSON, proto3, XML."""
    orders = _t(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<order><k>"), F.col("o_orderkey").cast("string"),
        F.lit("</k><s>"), F.col("o_orderstatus"),
        F.lit("</s><t>"), F.col("o_totalprice").cast("string"),
        F.lit("</t><p>"), F.col("o_orderpriority"),
        F.lit("</p><d>"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit("</d></order>"),
    )
    parsed = orders.select(
        F.from_xml(
            xml,
            "k BIGINT, s STRING, t DOUBLE, p STRING, d TIMESTAMP",
        ).alias("r")
    )
    return parsed.select(
        F.col("r.k").alias("o_orderkey"),
        F.col("r.s").alias("o_orderstatus"),
        F.col("r.t").alias("o_totalprice"),
        F.col("r.p").alias("o_orderpriority"),
        F.col("r.d").alias("o_orderdate"),
    )


from .q04_streamksql import _replay_events  # noqa: E402


@register(
    "streaming_transition_matrix",
    # The stateful pair emission over an ordered replay equals the batch
    # lag-window's pair multiset exactly, so the verified batch oracle
    # applies to the drained aggregation verbatim.
    _REGISTRY["event_transition_matrix"].oracle,
)
def q_streaming_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance twin of the Markov transition matrix: the
    events replay drives a per-user LAST-EVENT state machine
    (streaming/stateful.py transition_pairs_stream — three scalars per
    key, the lightest state in the module), continuously emitting
    (prev, next) transition pairs; the drained pair stream aggregates
    into the same ppm matrix as the batch lag window. This is how the
    next-event model stays current on an infinite stream: counts are
    additive, so the materialized matrix only ever ADDS the new pairs."""
    stream = _replay_events(spark, sf_dir)
    pairs = stream_stateful.transition_pairs_stream(stream)
    drained = stream_sinks.run_to_memory(
        pairs, f"reg_stream_transition_{next(_STREAM_SEQ)}"
    )
    # Mirror the batch twin's `prev_type IS NOT NULL` filter (r14 poison
    # sweep): the state machine knows a previous event EXISTS and emits
    # its possibly-NULL type, but batch lag() cannot distinguish
    # "no previous event" from "previous event with NULL type" — on a
    # NULL-typed poison event the stream kept a (NULL, next) pair the
    # oracle drops. Filter identically; (prev, NULL) pairs stay on both.
    c = (
        drained.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # totals via a prev_type-partitioned window over the |types|^2
    # aggregate (a self-join on a memory-sink view trips Spark's
    # conflicting-reference resolution; the window is equivalent and
    # stays partitioned)
    tot = F.sum("n").over(Window.partitionBy("prev_type"))
    return c.withColumn("tot", tot).select(
        "prev_type",
        "next_type",
        F.col("n").cast("double").alias("n_d"),
        F.expr("(n * 1000000L) div tot").cast("double").alias("prob_ppm_d"),
    )


@register(
    "proto_wire_confluent_roundtrip",
    _REGISTRY["proto_source_roundtrip"].oracle,
)
def q_proto_wire_confluent_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full registry-aware protobuf topic cycle: events encode to
    proto3, wrap in the Confluent frame (magic + schema id +
    message-indexes [0] as the optimized 0x00 byte), the consumer half
    resolves the field spec by id from the SAME LocalSchemaRegistry the
    Avro path uses and decodes with per-row frame validation
    (mixed-id hardening). Oracle identical to the unframed round-trip —
    framing provably changes nothing."""
    from ..sources import avro_py, proto_py

    ev = _t(spark, sf_dir, "events")
    fields = [
        (1, "event_id", "int64"),
        (2, "ts_micros", "int64"),
        (3, "user_id", "int64"),
        (4, "event_type", "string"),
        (5, "value", "double"),
        (6, "props", "string"),
    ]
    wire_in = ev.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_micros"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    reg = avro_py.LocalSchemaRegistry()
    framed = proto_py.encode_confluent_proto(wire_in, reg, "events-proto", fields)
    decoded = proto_py.decode_confluent_proto(
        framed,
        reg,
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
    "streaming_auc_ingest",
    _REGISTRY["roc_auc_purchase"].oracle,
)
def q_streaming_auc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance path of the ROC-AUC monitor: the replayed
    event stream emits STATELESS (quantized score, is-positive) cells
    per row — the additive sufficient statistic — and the drained cell
    stream runs the identical integer rank algebra as the batch metric
    (ml/metrics.py roc_auc_binary applied to the drained frame). This
    is how a serving-quality dashboard stays current: per-cell counts
    only ever ADD, so the continuously-materialized cell table replaces
    the corpus scan. Oracle identical to the batch AUC."""
    from ..ml import metrics as _mm

    stream = _replay_events(spark, sf_dir)
    cells = stream.select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        F.col("value").alias("score"),
    )
    drained = stream_sinks.run_to_memory(
        cells, f"reg_stream_auc_{next(_STREAM_SEQ)}"
    )
    return _mm.roc_auc_binary(drained, F.col("y"), F.col("score"), quantize=10)


@register(
    "ses_forecast_revenue",
    """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             (sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000) AS x
      FROM orders GROUP BY 1),
    ser AS (SELECT list(x ORDER BY t) AS xs FROM daily),
    f AS (SELECT len(xs) AS n,
                 list_reduce(list_prepend(xs[1] * 1000, xs[2:]),
                             (acc, v) -> (2 * v * 1000 + 8 * acc) // 10)
                   AS lvl
          FROM ser)
    SELECT CAST(n AS DOUBLE) AS n_days_d,
           CAST(lvl AS DOUBLE) AS level_milli_d,
           CAST(lvl // 1000 AS DOUBLE) AS forecast_kusd_d
    FROM f
    """,
)
def q_ses_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing of daily revenue (alpha = 0.2) as an
    INTEGER FIXED-POINT fold — the recursive forecaster that window
    functions cannot express, run entirely JVM-side through Spark's
    higher-order ``aggregate`` over the calendar-bounded daily series
    (collect_list of one BIGINT per day — bounded at any corpus scale,
    the same contract as the autocorrelation frame). Level lives in
    milli-kilodollar units; each step is
    (2*x*1000 + 8*level) div 10 — exact integer recursion, so the
    whole trajectory is engine- and partitioning-exact (the pagerank
    rationale applied to time series), and DuckDB replays it verbatim
    with list_reduce. Companion to forecast_revenue's seasonal-naive
    baseline: SES tracks level shifts the naive carry-forward misses."""
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
    f = ser.select(
        F.size("xs").alias("n"),
        F.expr(
            "aggregate(slice(xs, 2, size(xs) - 1), xs[0] * 1000L,"
            " (acc, v) -> (2 * v * 1000L + 8 * acc) div 10)"
        ).alias("lvl"),
    )
    return f.select(
        F.col("n").cast("double").alias("n_days_d"),
        F.col("lvl").cast("double").alias("level_milli_d"),
        F.expr("lvl div 1000L").cast("double").alias("forecast_kusd_d"),
    )


@register(
    "theil_sen_revenue_trend",
    """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             (sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000) AS x
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT (b.x - a.x) / CAST(b.t - a.t AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON b.t > a.t),
    m AS (SELECT count(*) AS n_pairs,
                 round(quantile_cont(slope, 0.5), 6) AS slope_med
          FROM pairs)
    SELECT CAST(n_pairs AS DOUBLE) AS n_pairs_d, slope_med
    FROM m
    """,
)
def q_theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: the median of all
    pairwise slopes — the breakdown-resistant twin of
    user_value_trend_fit's least squares (one contaminated day cannot
    move it). Slopes are single exact divisions of integer kilodollar
    deltas; the median follows the order_value_percentiles exact-
    interpolation contract, rounded at 6 dp. The O(D^2) pair join runs
    on the CALENDAR-BOUNDED daily frame (D days -> D^2/2 slope rows —
    bounded at any corpus scale; the corpus itself collapses to D rows
    first)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1995-01-01").cast("timestamp"),
        ).alias("t")
    ).agg(
        F.expr("sum(CAST(floor(o_totalprice) AS BIGINT)) div 1000L").alias("x")
    )
    b = daily.select(F.col("t").alias("__t2"), F.col("x").alias("__x2"))
    pairs = daily.join(F.broadcast(b), F.col("__t2") > F.col("t")).select(
        (
            (F.col("__x2") - F.col("x"))
            / (F.col("__t2") - F.col("t")).cast("double")
        ).alias("slope")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n_pairs_d"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("slope_med"),
    )


@register(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    tot AS (SELECT sum(n) AS total FROM c),
    e AS (SELECT unnest(range(1, 10)) AS digit,
                 unnest([0.301029995663981, 0.176091259055681,
                         0.124938736608300, 0.096910013008056,
                         0.079181246047625, 0.066946789630613,
                         0.057991946977687, 0.051152522447381,
                         0.045757490560675]) AS p),
    j AS (
      -- cast p: DuckDB parses the literals as DECIMAL; the chi2 term
      -- must evaluate in DOUBLE exactly like Spark
      SELECT e.digit, coalesce(c.n, 0) AS n, CAST(e.p AS DOUBLE) AS p,
             tot.total
      FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN tot)
    SELECT CAST(digit AS DOUBLE) AS digit_d, CAST(n AS DOUBLE) AS n_d,
           CAST(total AS DOUBLE) AS total_d,
           (CAST(n AS DOUBLE) - total * p) * (CAST(n AS DOUBLE) - total * p)
             / (total * p) AS chi2_term
    FROM j
    """,
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance screen over order totals — the
    classic fraud/integrity test. The digit comes from the STRING of
    the integer part (never log10 — not correctly-rounded cross-
    engine); the expected proportions are nine shared literal
    constants, so each chi-square term is one fixed double expression
    over exact integer counts. Emits the per-digit table (sum the
    chi2_term column against chi2(8) critical values downstream)."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.expr("CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING)"), 1, 1
    ).cast("long")
    c = (
        orders.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.agg(F.sum("n").alias("total"))
    probs = [
        0.301029995663981, 0.176091259055681, 0.124938736608300,
        0.096910013008056, 0.079181246047625, 0.066946789630613,
        0.057991946977687, 0.051152522447381, 0.045757490560675,
    ]
    e = spark.createDataFrame(
        [(i + 1, p) for i, p in enumerate(probs)], "digit long, p double"
    )
    j = (
        e.join(c, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            "p",
            "total",
        )
    )
    nd = F.col("n").cast("double")
    exp = F.col("total") * F.col("p")
    return j.select(
        F.col("digit").cast("double").alias("digit_d"),
        nd.alias("n_d"),
        F.col("total").cast("double").alias("total_d"),
        ((nd - exp) * (nd - exp) / exp).alias("chi2_term"),
    )


@register(
    "value_drift_spearman",
    """
    WITH base AS (
      SELECT CAST(floor(value * 10) AS BIGINT) AS qx,
             CAST(floor(datediff('day', TIMESTAMP '2024-01-01',
                                 date_trunc('day', ts)) * 10) AS BIGINT)
               AS qy
      FROM events),
    cx AS (SELECT qx, count(*) AS cnt FROM base GROUP BY 1),
    rx AS (SELECT c.qx, 2 * coalesce(sum(c2.cnt), 0) + c.cnt + 1 AS r2_qx
           FROM cx c LEFT JOIN cx c2 ON c2.qx < c.qx
           GROUP BY c.qx, c.cnt),
    cy AS (SELECT qy, count(*) AS cnt FROM base GROUP BY 1),
    ry AS (SELECT c.qy, 2 * coalesce(sum(c2.cnt), 0) + c.cnt + 1 AS r2_qy
           FROM cy c LEFT JOIN cy c2 ON c2.qy < c.qy
           GROUP BY c.qy, c.cnt),
    j AS (SELECT r2_qx, r2_qy
          FROM base JOIN rx USING (qx) JOIN ry USING (qy)),
    g AS (SELECT count(*) AS n, sum(r2_qx) AS sa, sum(r2_qy) AS sb,
                 sum(r2_qx * r2_qy) AS sab, sum(r2_qx * r2_qx) AS saa,
                 sum(r2_qy * r2_qy) AS sbb
          FROM j)
    SELECT CAST(n AS DOUBLE) AS n_d,
           CASE WHEN (n * saa - sa * sa) > 0 AND (n * sbb - sb * sb) > 0
                THEN CAST(n * sab - sa * sb AS DOUBLE)
                     / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                        * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
                ELSE 0.0 END AS rho
    FROM g
    """,
)
def q_value_drift_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone drift detector: exact tie-corrected Spearman rank
    correlation between event value and event DAY (is the score
    distribution creeping over the month?), computed with the AUC cell
    machinery — average ranks as exact integers from the bounded
    quantized-cell tables, no global sort, five DECIMAL(38,0)/HUGEINT
    closing moments, one final double expression
    (ml/metrics.py spearman_correlation)."""
    ev = _t(spark, sf_dir, "events")
    return ml_metrics.spearman_correlation(
        ev,
        F.col("value"),
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("2024-01-01").cast("timestamp"),
        ).cast("double"),
        quantize=10,
    )


@register(
    "mann_kendall_revenue",
    """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             (sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000) AS x
      FROM orders GROUP BY 1),
    s AS (
      SELECT sum(CASE WHEN b.x > a.x THEN 1
                      WHEN b.x < a.x THEN -1 ELSE 0 END) AS mk_s
      FROM daily a JOIN daily b ON b.t > a.t),
    n AS (SELECT count(*) AS nd FROM daily),
    ties AS (
      SELECT coalesce(sum(m * (m - 1) * (2 * m + 5)), 0) AS tie_adj
      FROM (SELECT x, count(*) AS m FROM daily GROUP BY 1) g
      WHERE m > 1),
    v AS (
      SELECT mk_s, nd,
             (nd * (nd - 1) * (2 * nd + 5) - tie_adj) AS var18
      FROM s CROSS JOIN n CROSS JOIN ties)
    SELECT CAST(mk_s AS DOUBLE) AS s_d, CAST(nd AS DOUBLE) AS n_days_d,
           CAST(var18 AS DOUBLE) AS var18_d,
           CASE WHEN var18 > 0 THEN
             (CASE WHEN mk_s > 0 THEN CAST(mk_s - 1 AS DOUBLE)
                   WHEN mk_s < 0 THEN CAST(mk_s + 1 AS DOUBLE)
                   ELSE 0.0 END)
             / sqrt(CAST(var18 AS DOUBLE) / 18.0)
           ELSE 0.0 END AS z_stat
    FROM v
    """,
)
def q_mann_kendall_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily revenue — the
    distribution-free companion to the Theil-Sen slope (S = sum of
    pairwise signs; variance with the standard tie correction). S,
    n, and 18*Var(S) are exact integers over the calendar-bounded
    daily frame; the continuity-corrected z is one fixed double
    expression, zero-variance guarded (the ANSI rule)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1995-01-01").cast("timestamp"),
        ).alias("t")
    ).agg(
        F.expr("sum(CAST(floor(o_totalprice) AS BIGINT)) div 1000L").alias("x")
    )
    b = daily.select(F.col("t").alias("__t2"), F.col("x").alias("__x2"))
    s = daily.join(F.broadcast(b), F.col("__t2") > F.col("t")).agg(
        F.sum(
            F.when(F.col("__x2") > F.col("x"), 1)
            .when(F.col("__x2") < F.col("x"), -1)
            .otherwise(0)
        ).alias("mk_s")
    )
    n = daily.agg(F.count(F.lit(1)).alias("nd"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("m") * (F.col("m") - 1) * (2 * F.col("m") + 5)
                ),
                F.lit(0),
            ).alias("tie_adj")
        )
    )
    v = (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .withColumn(
            "var18",
            F.col("nd") * (F.col("nd") - 1) * (2 * F.col("nd") + 5)
            - F.col("tie_adj"),
        )
    )
    cc = (
        F.when(F.col("mk_s") > 0, (F.col("mk_s") - 1).cast("double"))
        .when(F.col("mk_s") < 0, (F.col("mk_s") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    )
    z = F.when(
        F.col("var18") > 0, cc / F.sqrt(F.col("var18").cast("double") / 18.0)
    ).otherwise(F.lit(0.0))
    return v.select(
        F.col("mk_s").cast("double").alias("s_d"),
        F.col("nd").cast("double").alias("n_days_d"),
        F.col("var18").cast("double").alias("var18_d"),
        z.alias("z_stat"),
    )


@register(
    "hbos_outlier_events",
    """
    WITH f AS (
      SELECT event_id,
             least(9, CAST(floor(value / 50.0) AS BIGINT)) AS vbin,
             CAST(extract(hour FROM ts) AS BIGINT) AS hbin,
             event_type
      FROM events),
    n AS (SELECT count(*) AS total FROM f),
    bv AS (SELECT vbin, count(*) AS nv FROM f GROUP BY 1),
    bh AS (SELECT hbin, count(*) AS nh FROM f GROUP BY 1),
    bt AS (SELECT event_type, count(*) AS nt FROM f GROUP BY 1),
    s AS (
      SELECT f.event_id,
             (total * 1000000) // nv
             + (total * 1000000) // nh
             + (total * 1000000) // nt AS rarity_ppm
      FROM f
      JOIN bv USING (vbin) JOIN bh USING (hbin) JOIN bt USING (event_type)
      CROSS JOIN n)
    SELECT event_id, CAST(rarity_ppm AS DOUBLE) AS rarity_ppm_d
    FROM s ORDER BY rarity_ppm DESC, event_id LIMIT 20
    """,
)
def q_hbos_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based outlier score (HBOS, Goldstein & Dengel 2012)
    with the log dropped: each event's rarity is the sum of its
    inverse bin frequencies across three independent histograms
    (value decile, hour of day, event type) in exact integer ppm —
    the unsupervised anomaly screen that needs no moments and no
    model. Three bounded histogram tables broadcast back onto one
    scan; global top-20 via TakeOrderedAndProject. Log-free sum of
    inverse frequencies is rank-equivalent to HBOS for dominant bins
    and exactly deterministic (the bm25 rationale)."""
    ev = _t(spark, sf_dir, "events")
    f = ev.select(
        "event_id",
        F.least(F.lit(9), F.floor(F.col("value") / 50.0)).cast("long").alias("vbin"),
        F.hour("ts").cast("long").alias("hbin"),
        "event_type",
    )
    n = f.agg(F.count(F.lit(1)).alias("total"))
    bv = f.groupBy("vbin").agg(F.count(F.lit(1)).alias("nv"))
    bh = f.groupBy("hbin").agg(F.count(F.lit(1)).alias("nh"))
    bt = f.groupBy("event_type").agg(F.count(F.lit(1)).alias("nt"))
    s = (
        f.join(F.broadcast(bv), "vbin")
        .join(F.broadcast(bh), "hbin")
        .join(F.broadcast(bt), "event_type")
        .crossJoin(F.broadcast(n))
        .select(
            "event_id",
            (
                F.expr("(total * 1000000L) div nv")
                + F.expr("(total * 1000000L) div nh")
                + F.expr("(total * 1000000L) div nt")
            ).alias("rarity_ppm"),
        )
    )
    return (
        s.orderBy(F.col("rarity_ppm").desc(), F.col("event_id").asc())
        .limit(20)
        .select("event_id", F.col("rarity_ppm").cast("double").alias("rarity_ppm_d"))
    )


@register(
    "winsorized_value_stats",
    """
    WITH b AS (
      SELECT event_type,
             round(quantile_cont(value, 0.05), 6) AS lo,
             round(quantile_cont(value, 0.95), 6) AS hi
      FROM events GROUP BY 1),
    w AS (
      SELECT e.event_type, b.lo, b.hi,
             CAST(least(greatest(e.value, b.lo), b.hi)
                  AS DECIMAL(18,6)) AS wv
      FROM events e JOIN b ON e.event_type = b.event_type)
    SELECT event_type, CAST(count(*) AS DOUBLE) AS n_d, lo, hi,
           CAST(sum(wv) AS DOUBLE) / count(*) AS win_mean
    FROM w GROUP BY event_type, lo, hi
    """,
)
def q_winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics — the robust-preprocessing
    step before any moment-based model: values clamped to the
    [p05, p95] band (exact interpolated percentiles rounded at 6 dp,
    the mad_outliers boundary discipline), then the mean of the
    clamped values from an exact DECIMAL sum (the metric is DEFINED on
    6dp-clamped values, so the order-free decimal sum hash-checks on
    any engine). Tiny boundary table broadcast onto one scan."""
    ev = _t(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("lo"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("hi"),
    )
    w = ev.join(F.broadcast(b), "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
        .cast("decimal(18,6)")
        .alias("wv"),
    )
    return w.groupBy("event_type", "lo", "hi").agg(
        F.count(F.lit(1)).cast("double").alias("n_d"),
        (F.sum("wv").cast("double") / F.count(F.lit(1))).alias("win_mean"),
    ).select("event_type", "n_d", "lo", "hi", "win_mean")


@register(
    "ks_weekend_value_drift",
    """
    WITH t AS (
      SELECT CAST(floor(value * 10) AS BIGINT) AS s,
             CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wk
      FROM events),
    cells AS (
      SELECT s, sum(wk) AS n1c, sum(1 - wk) AS n2c FROM t GROUP BY 1),
    tot AS (SELECT sum(n1c) AS n1, sum(n2c) AS n2 FROM cells),
    cum AS (
      SELECT c.s, sum(c2.n1c) AS cum1, sum(c2.n2c) AS cum2
      FROM cells c JOIN cells c2 ON c2.s <= c.s
      GROUP BY c.s),
    d AS (
      SELECT max(abs(cum1 * n2 - cum2 * n1)) AS dmax
      FROM cum CROSS JOIN tot)
    SELECT CAST(n1 AS DOUBLE) AS n_weekend_d, CAST(n2 AS DOUBLE) AS n_weekday_d,
           CAST((dmax * 1000000) // (n1 * n2) AS DOUBLE) AS ks_ppm_d
    FROM d CROSS JOIN tot
    """,
)
def q_ks_weekend_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between weekend and
    weekday value distributions, ENTIRELY in integers: over the bounded
    quantized-cell table, D = max|F1 - F2| evaluates as
    max|cum1*n2 - cum2*n1| (exact BIGINT cross-products — no float CDFs
    to drift), reported in integer ppm. The distribution-shift test
    that needs no binning assumptions beyond the shared quantization;
    prefix sums via the O(C^2) broadcast idiom, one corpus scan.

    DuckDB's dayofweek() is 0-based (Sunday=0); Spark's dayofweek() is
    1-based (Sunday=1) — the weekend predicate is stated per engine
    (0/6 vs 1/7) so the split is identical."""
    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        F.floor(F.col("value") * 10).cast("long").alias("s"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    cells = t.groupBy("s").agg(
        F.sum("wk").alias("n1c"), F.sum(F.lit(1) - F.col("wk")).alias("n2c")
    )
    tot = cells.agg(F.sum("n1c").alias("n1"), F.sum("n2c").alias("n2"))
    c2 = cells.select(
        F.col("s").alias("__s2"),
        F.col("n1c").alias("__n1c"),
        F.col("n2c").alias("__n2c"),
    )
    cum = (
        cells.join(F.broadcast(c2), F.col("__s2") <= F.col("s"))
        .groupBy("s")
        .agg(F.sum("__n1c").alias("cum1"), F.sum("__n2c").alias("cum2"))
    )
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
        ).alias("dmax")
    )
    return d.crossJoin(F.broadcast(tot)).select(
        F.col("n1").cast("double").alias("n_weekend_d"),
        F.col("n2").cast("double").alias("n_weekday_d"),
        F.expr("(dmax * 1000000L) div (n1 * n2)")
        .cast("double")
        .alias("ks_ppm_d"),
    )


@register(
    "chi2_type_weekday",
    """
    WITH t AS (
      SELECT event_type,
             CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wk
      FROM events),
    cells AS (SELECT event_type, wk, count(*) AS o FROM t GROUP BY 1, 2),
    rows_ AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
    cols_ AS (SELECT wk, sum(o) AS c FROM cells GROUP BY 1),
    n AS (SELECT sum(o) AS total FROM cells),
    j AS (
      SELECT cells.event_type, cells.wk, cells.o, rows_.r, cols_.c, n.total
      FROM cells JOIN rows_ USING (event_type) JOIN cols_ USING (wk)
      CROSS JOIN n)
    SELECT event_type, CAST(wk AS DOUBLE) AS wk_d, CAST(o AS DOUBLE) AS o_d,
           CAST(r * c AS DOUBLE) / total AS expected,
           (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / total)
             * (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / total)
             / (CAST(r * c AS DOUBLE) / total) AS chi2_term
    FROM j
    """,
)
def q_chi2_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence table between event type and
    weekend/weekday — is behavior day-of-week dependent? Observed,
    expected (r*c/n from exact BIGINT marginals — the only float ops
    are the shared final expressions), and per-cell chi-square terms
    over the bounded |types| x 2 contingency table. Sum chi2_term and
    compare against chi2((|types|-1)) downstream; Cramér's V =
    sqrt(sum / (n * min(r-1, c-1)))."""
    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    cells = t.groupBy("event_type", "wk").agg(F.count(F.lit(1)).alias("o"))
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_ = cells.groupBy("wk").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("total"))
    j = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "wk")
        .crossJoin(F.broadcast(n))
    )
    exp = (F.col("r") * F.col("c")).cast("double") / F.col("total")
    od = F.col("o").cast("double")
    return j.select(
        "event_type",
        F.col("wk").cast("double").alias("wk_d"),
        od.alias("o_d"),
        exp.alias("expected"),
        ((od - exp) * (od - exp) / exp).alias("chi2_term"),
    )


@register(
    "streaming_ks_ingest",
    _REGISTRY["ks_weekend_value_drift"].oracle,
)
def q_streaming_ks_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance path of the KS drift monitor: the replay
    emits stateless (quantized value cell, weekend flag) rows — the
    additive sufficient statistic, exactly the streaming_auc_ingest
    idiom — and the drained cell table runs the identical integer
    prefix/cross-product algebra. Oracle identical to the batch KS."""
    stream = _replay_events(spark, sf_dir)
    cells = stream.select(
        F.floor(F.col("value") * 10).cast("long").alias("s"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    drained = stream_sinks.run_to_memory(
        cells, f"reg_stream_ks_{next(_STREAM_SEQ)}"
    )
    agg = drained.groupBy("s").agg(
        F.sum("wk").alias("n1c"), F.sum(F.lit(1) - F.col("wk")).alias("n2c")
    )
    tot = agg.agg(F.sum("n1c").alias("n1"), F.sum("n2c").alias("n2"))
    c2 = agg.select(
        F.col("s").alias("__s2"),
        F.col("n1c").alias("__n1c"),
        F.col("n2c").alias("__n2c"),
    )
    cum = (
        agg.join(F.broadcast(c2), F.col("__s2") <= F.col("s"))
        .groupBy("s")
        .agg(F.sum("__n1c").alias("cum1"), F.sum("__n2c").alias("cum2"))
    )
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
        ).alias("dmax")
    )
    return d.crossJoin(F.broadcast(tot)).select(
        F.col("n1").cast("double").alias("n_weekend_d"),
        F.col("n2").cast("double").alias("n_weekday_d"),
        F.expr("(dmax * 1000000L) div (n1 * n2)")
        .cast("double")
        .alias("ks_ppm_d"),
    )
