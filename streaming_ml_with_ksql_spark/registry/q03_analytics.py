"""Multimodal decode, as-of/session analytics, CDC, behavioral analytics (funnel/RFM/cohorts).

Split from the monolithic registry (round 7, VERDICT r6 #8); the
@register calls run at package import in the original registration
order, so ``queries()`` is unchanged.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401

# --------------------------------------------------------------------------
# North-star: multimodal columns (binary payloads + mapInPandas decode)
# --------------------------------------------------------------------------

@register("multimodal_decode", None)  # sha256/zlib sizes not SQL-expressible
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality decode: one REAL container parse per row (PNG / WAV /
    AVI by doc_id residue) through Arrow mapInPandas. Rows-only here
    because sha256 digests and zlib-compressed byte sizes aren't
    SQL-reproducible; each codec's full-fidelity oracle lives in its
    dedicated query (multimodal_png_decode / _audio_decode /
    _video_decode / _image_decode)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_media(multimodal.attach_binary_payload(docs))


# --------------------------------------------------------------------------
# As-of join, session windows, lag/lead analytics (beyond-reference surface,
# SURVEY.md §2.9)
# --------------------------------------------------------------------------

@register(
    "asof_view_attribution",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    views AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
    cand AS (
      SELECT p.event_id,
             v.event_id AS view_event_id, v.ts AS view_ts, v.value AS view_value,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM purchases p
      JOIN views v ON v.user_id = p.user_id AND v.ts <= p.ts)
    SELECT p.event_id, p.user_id, p.ts,
           CAST(c.view_event_id AS DOUBLE) AS view_event_id,
           c.view_ts, c.view_value
    FROM purchases p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
      USING (event_id)
    """,
)
def q_asof_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase attributed to the user's most
    recent prior (or simultaneous) view. The oracle is the quadratic
    row_number formulation; the engine runs the single-shuffle merge idiom
    (operators.joins.as_of_join)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    out = joins.as_of_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="view_ts",
        payload_cols=("view_event_id", "view_ts", "view_value"),
        tiebreak="view_event_id",
    )
    # view_event_id is NULL for unmatched purchases: nullable BIGINT floats
    # across DuckDB's pandas bridge, so emit DOUBLE on both sides.
    return out.withColumn("view_event_id", F.col("view_event_id").cast("double"))


_SESSION_GAP = "6 hours"
_SESSION_ORACLE_BODY = """
WITH o AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events),
m AS (
  SELECT user_id, ts,
         CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 6 HOUR
              THEN 1 ELSE 0 END AS news
  FROM o),
s AS (
  SELECT user_id, ts,
         sum(news) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
  FROM m),
sess AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
         count(*) AS n_events
  FROM s GROUP BY user_id, sid)
"""


@register(
    "session_window_agg",
    _SESSION_ORACLE_BODY + "SELECT user_id, first_ts, last_ts, n_events FROM sess",
)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap-based, KSQL window family — SURVEY.md §2.9).
    Oracle is the lag/cum-sum gaps-and-islands sessionization; a new
    session starts when the gap is >= 6 hours (Spark session windows are
    [start, last+gap) half-open)."""
    return windows.session_window_agg(
        _t(spark, sf_dir, "events"), gap=_SESSION_GAP
    )


@register(
    "lag_lead_features",
    """
    SELECT event_id, user_id, ts, event_type,
      lag(event_type) OVER w AS prev_value,
      lead(event_type) OVER w AS next_value,
      CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE) AS us_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_lag_lead_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead per key (SURVEY.md §2.9): previous/next event type
    and time since the previous event — the engine-side form of the
    reference generator's Markov (from_state, to_state) transitions."""
    return rolling.lag_lead_features(_t(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# CDC: Debezium envelope unwrap + snapshot (SURVEY.md S3)
# --------------------------------------------------------------------------

def _customer_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Debezium changelog synthesized from `customer`:
    snapshot reads at t=1000, +100 balance updates for custkey%7==0 at
    t=2000, deletes for custkey%13==0 at t=3000."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    row_t = "struct<c_custkey:bigint,c_name:string,c_acctbal:double>"
    body = F.struct(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.col("c_name").alias("c_name"),
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )
    updated = F.struct(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.col("c_name").alias("c_name"),
        (F.col("c_acctbal") + 100).cast("double").alias("c_acctbal"),
    )
    null_row = F.lit(None).cast(row_t)
    snapshot = cust.select(
        null_row.alias("before"), body.alias("after"),
        F.lit("r").alias("op"), F.lit(1000).cast("bigint").alias("ts_ms"),
    )
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        body.alias("before"), updated.alias("after"),
        F.lit("u").alias("op"), F.lit(2000).cast("bigint").alias("ts_ms"),
    )
    deletes = cust.filter(F.col("c_custkey") % 13 == 0).select(
        updated.alias("before"), null_row.alias("after"),
        F.lit("d").alias("op"), F.lit(3000).cast("bigint").alias("ts_ms"),
    )
    return snapshot.unionByName(updates).unionByName(deletes)


@register(
    "cdc_snapshot_customers",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END
             AS c_acctbal
    FROM customer
    WHERE c_custkey % 13 <> 0
    """,
)
def q_cdc_snapshot_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: CDC pipeline semantics end to end — a deterministic Debezium
    changelog synthesized from `customer` (full snapshot reads, then
    updates for custkey%7==0, then deletes for custkey%13==0) is unwrapped
    (ExtractNewRecordState analog, mysql-source.json:17-19) and compacted
    to the current table (upsert-with-delete, README.md:29). The oracle
    states the expected final table directly."""
    return cdc.cdc_snapshot(_customer_envelope(spark, sf_dir), "c_custkey")


@register(
    "cdc_wire_snapshot_customers",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END
             AS c_acctbal
    FROM customer
    WHERE c_custkey % 13 <> 0
    """,
)
def q_cdc_wire_snapshot_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 at the WIRE level: the same changelog serialized to the JSON
    bytes a Debezium topic carries (sources/cdc.py debezium_json_wire),
    parsed back with an explicit FAILFAST schema (from_json, JVM-side),
    then unwrapped and compacted. Same oracle as cdc_snapshot_customers
    — a hash match proves the JSON wire round-trip changes nothing,
    including null before/after images on snapshot and delete records."""
    row_t = "struct<c_custkey:bigint,c_name:string,c_acctbal:double>"
    env = _customer_envelope(spark, sf_dir)
    parsed = cdc.parse_debezium_json(cdc.debezium_json_wire(env), row_t)
    return cdc.cdc_snapshot(parsed, "c_custkey")


@register(
    "scd2_customer_history",
    """
    WITH changes AS (
      SELECT c_custkey, c_name, c_acctbal,
             CAST(1000 AS BIGINT) AS ts, 'r' AS op
      FROM customer
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal + 100, 2000, 'u'
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal + 100, 3000, 'd'
      FROM customer WHERE c_custkey % 13 = 0
    ),
    v AS (
      SELECT *, lead(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS nxt
      FROM changes)
    SELECT c_custkey, c_name, c_acctbal,
           ts AS valid_from,
           CAST(nxt AS DOUBLE) AS valid_to,
           (nxt IS NULL) AS is_current
    FROM v WHERE op <> 'd'
    """,
)
def q_scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from the same CDC changelog: every
    upsert versioned with [valid_from, valid_to) bounded by the next
    change (deletes close the open version). The warehouse-side complement
    of cdc_snapshot."""
    return cdc.scd2_history(_customer_envelope(spark, sf_dir), "c_custkey")


@register(
    "top_revenue_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the revenue view + uncorrelated scalar MAX
    subquery (distinct from Q2's per-group max): quarterly revenue per
    supplier, suppliers achieving the global maximum. The rounded
    per-supplier revenue makes the max compare cross-engine canonical;
    the scalar max broadcasts against the (already tiny) revenue frame.
    Completes the 22-shape TPC-H family (SURVEY.md §2.9)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(
            F.broadcast(_t(spark, sf_dir, "supplier")),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "conversion_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY 1),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY 1),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY 1)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_full_funnel
    """,
)
def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → later click → later purchase):
    each stage is a conditional MIN against the PREVIOUS stage's
    timestamp, so only strictly-ordered progressions count — the
    sequential-pattern analytic a sessionized clickstream engine owes its
    users. Three per-user aggregates, each over a frame that shrinks with
    the funnel; the stage joins run on the per-user stage tables —
    deliberately NOT broadcast-hinted (one row per user grows with the
    corpus; AQE may still elect a broadcast when small)."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).cast("long").alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).cast("long").alias("n_full_funnel")))
    )


@register(
    "customer_rfm_segments",
    """
    WITH mx AS (SELECT max(o_orderdate) AS d0 FROM orders),
    rfm AS (
      SELECT o_custkey AS c_custkey,
             CAST(date_diff('day', max(o_orderdate), (SELECT d0 FROM mx))
                  AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1),
    scored AS (
      SELECT c_custkey, recency_days, frequency, monetary,
             CAST(ntile(5) OVER (ORDER BY recency_days ASC, c_custkey)
                  AS INTEGER) AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency DESC, c_custkey)
                  AS INTEGER) AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary DESC, c_custkey)
                  AS INTEGER) AS m_score
      FROM rfm)
    SELECT c_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
                WHEN r_score <= 2 THEN 'recent'
                WHEN f_score <= 2 THEN 'loyal_lapsing'
                WHEN r_score >= 4 AND f_score >= 4 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the marketing-analytics staple:
    per-customer recency (days since last order, against the corpus max
    date), frequency, and exact-DECIMAL monetary total, quintile-scored
    with deterministic (metric, custkey) NTILE tie-breaks and mapped to
    named segments. The three quintile scores come from
    ``operators.rank.ntile_scores`` — one Arrow task while the frame is
    bounded, else ``parallel_ntile``'s range-shuffle + local sort +
    broadcast prefix offsets — NOT an unpartitioned NTILE window, so a
    large customer frame never moves through a single partition
    (VERDICT r6 #2; the DuckDB oracle keeps the plain NTILE, proving the
    distributed arithmetic reproduces it exactly)."""
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("d0"))
    rfm = (
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "c_custkey",
            F.datediff(F.col("d0"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
        # Materialize the per-customer aggregate ONCE: the first
        # parallel_ntile's repartitionByRange samples its input and then
        # shuffles it — two executions of the orders scan+groupBy without
        # this (guide §2.4; the decision-frame rule — 4 scalars/customer).
        .transform(sizing.materialize, "rfm aggregate, sizes the ntile gate")
    )
    # Scale-adaptive quintile scoring (guide §2.2/§4.2): below a
    # measured-count bound (the checkpointed frame's count is a
    # cached-RDD read) ALL THREE ntile scores compute in ONE Arrow task,
    # replacing 3 x (range-sample + shuffle + offsets) jobs of scheduling
    # overhead on a 4-scalars-per-customer frame; above it the
    # distributed parallel_ntile passes run (rank_ops.ntile_scores).
    scored = rank_ops.ntile_scores(
        rfm,
        5,
        [
            ("r_score", [("recency_days", "asc"), ("c_custkey", "asc")]),
            ("f_score", [("frequency", "desc"), ("c_custkey", "asc")]),
            ("m_score", [("monetary", "desc"), ("c_custkey", "asc")]),
        ],
    )
    scored = scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    )
    segment = (
        F.when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2), "champion"
        )
        .when(F.col("r_score") <= 2, "recent")
        .when(F.col("f_score") <= 2, "loyal_lapsing")
        .when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4), "hibernating"
        )
        .otherwise("regular")
    )
    return scored.withColumn("segment", segment)


@register(
    "conversion_funnel_windowed",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY 1),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL 7 DAY
      GROUP BY 1),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND e.ts <= c.t_click + INTERVAL 7 DAY
      GROUP BY 1)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click_7d,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_full_funnel_7d
    """,
)
def q_conversion_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel — the attribution-window variant of
    conversion_funnel: each step must follow the previous one WITHIN 7
    days (the business rule behind 'conversion windows'), so stale
    progressions stop counting. Same shrinking per-user stage frames;
    the step joins carry the window predicate, never a time-range cross
    product."""
    ev = _t(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAYS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.join(v, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + week)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + week)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
        .crossJoin(
            c.agg(F.count(F.lit(1)).cast("long").alias("n_view_click_7d"))
        )
        .crossJoin(
            p.agg(F.count(F.lit(1)).cast("long").alias("n_full_funnel_7d"))
        )
    )


@register(
    "weekly_retention_cohorts",
    """
    WITH fw AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1),
    act AS (
      SELECT DISTINCT e.user_id, fw.cohort_week,
             CAST(date_diff('day', fw.cohort_week,
                            date_trunc('week', e.ts)) // 7 AS BIGINT)
               AS weeks_since
      FROM events e JOIN fw USING (user_id))
    SELECT cohort_week, weeks_since,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM act GROUP BY 1, 2
    """,
)
def q_weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity ISO week,
    counted distinct in each later week of activity — both engines
    truncate weeks to Monday, and the week offset is exact integer day
    arithmetic. One first-week aggregate + one distinct-activity
    aggregate; the retention groupBy runs over (user, week) pairs, which
    is already orders of magnitude smaller than events."""
    ev = _t(spark, sf_dir, "events")
    fw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = (
        ev.join(fw, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("weeks_since"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "weeks_since").agg(
        F.count_distinct("user_id").cast("long").alias("n_users")
    )


@register(
    "fuzzy_name_matches",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
      SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM names)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM blocked a
    JOIN blocked b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q_fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked edit distance — the fuzzy-match
    companion to the token/hash dedup families (catalog/name dedup where
    near-duplicates differ by typos, not shingles). Candidate pairs come
    from an equi-join on a blocking key (first name token), so the
    Levenshtein evaluation — O(|s|²) per pair — runs on within-block
    candidates only, never the n² cross product; both engines implement
    classic unit-cost Levenshtein, so the distances hash-check exactly."""
    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    blocked = names.select(
        "p_name", F.split("p_name", " ").getItem(0).alias("blk")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("int")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 3)
    )


@register(
    "user_value_trend_fit",
    """
    WITH t0 AS (
      SELECT user_id, min(epoch_us(ts)) AS us0 FROM events GROUP BY 1),
    pts AS (
      SELECT e.user_id,
             CAST((epoch_us(e.ts) - t0.us0) // 1000000 AS BIGINT) AS t,
             CAST(e.value AS DECIMAL(18,6)) AS v
      FROM events e JOIN t0 USING (user_id)),
    s AS (
      SELECT user_id,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(t) AS DOUBLE) AS st,
             CAST(sum(t * t) AS DOUBLE) AS stt,
             CAST(sum(v) AS DOUBLE) AS sv,
             CAST(sum(v * v) AS DOUBLE) AS svv,
             CAST(sum(t * v) AS DOUBLE) AS stv
      FROM pts GROUP BY 1),
    f AS (
      SELECT user_id, n, sv, svv, stv, st, stt,
             (n * stv - st * sv) / (n * stt - st * st) AS b
      FROM s WHERE n * stt - st * st <> 0),
    g AS (
      SELECT user_id, n, b, (sv - b * st) / n AS a,
             sv, svv, stv, st, stt
      FROM f),
    e AS (
      SELECT user_id, CAST(n AS BIGINT) AS n_pts,
             svv - 2 * a * sv - 2 * b * stv + n * a * a
               + 2 * a * b * st + b * b * stt AS sse,
             svv - sv * sv / n AS sst,
             n, b
      FROM g)
    SELECT user_id, n_pts,
           round(b * 86400.0, 6) AS slope_per_day,
           round(1.0 - sse / sst, 6) AS r2,
           round(sqrt(greatest(sse, 0.0) / n), 6) AS rmse
    FROM e WHERE sst > 0
    """,
)
def q_user_value_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression-evaluation surface (the classification report's
    numeric sibling): per-user least-squares fit quality — slope, R²,
    RMSE — entirely from the moment sums of ONE scan (n, Σt, Σt², Σv,
    Σv², Σtv; t as exact integer seconds, v in exact DECIMAL), so the
    residual metrics need no second pass over the data. Every metric is
    one fixed double expression over exact components that the oracle
    restates verbatim; zero-variance users (time or value) are
    excluded by the same guards on both sides."""
    ev = _t(spark, sf_dir, "events")
    t0 = ev.groupBy("user_id").agg(F.min(F.unix_micros("ts")).alias("us0"))
    dec = "decimal(18,6)"
    pts = ev.join(t0, "user_id").select(
        "user_id",
        F.expr("CAST((unix_micros(ts) - us0) DIV 1000000 AS BIGINT)").alias(
            "t"
        ),
        F.col("value").cast(dec).alias("v"),
    )
    s = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").cast("double").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("double").alias("stt"),
        F.sum("v").cast("double").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("svv"),
        F.sum(F.col("t") * F.col("v")).cast("double").alias("stv"),
    )
    n, st, stt = F.col("n"), F.col("st"), F.col("stt")
    sv, svv, stv = F.col("sv"), F.col("svv"), F.col("stv")
    f = s.filter(n * stt - st * st != 0).withColumn(
        "b", (n * stv - st * sv) / (n * stt - st * st)
    )
    b = F.col("b")
    g = f.withColumn("a", (sv - b * st) / n)
    a = F.col("a")
    e = g.select(
        "user_id",
        n.cast("bigint").alias("n_pts"),
        (
            svv - 2 * a * sv - 2 * b * stv + n * a * a
            + 2 * a * b * st + b * b * stt
        ).alias("sse"),
        (svv - sv * sv / n).alias("sst"),
        n.alias("n"),
        b.alias("b"),
    )
    return e.filter(F.col("sst") > 0).select(
        "user_id",
        "n_pts",
        F.round(F.col("b") * 86400.0, 6).alias("slope_per_day"),
        F.round(1.0 - F.col("sse") / F.col("sst"), 6).alias("r2"),
        F.round(
            F.sqrt(F.greatest(F.col("sse"), F.lit(0.0)) / F.col("n")), 6
        ).alias("rmse"),
    )


@register(
    "user_value_trend",
    """
    WITH t0 AS (
      SELECT user_id, min(epoch_us(ts)) AS us0 FROM events GROUP BY 1),
    pts AS (
      SELECT e.user_id,
             CAST((epoch_us(e.ts) - t0.us0) // 1000000 AS BIGINT) AS t,
             e.value AS v
      FROM events e JOIN t0 USING (user_id)),
    s AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(t * t) AS BIGINT) AS stt,
             sum(v) AS sv, sum(t * v) AS stv
      FROM pts GROUP BY 1)
    SELECT user_id, n,
           round((CAST(n AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv)
                 / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) * 86400.0, 6)
             AS slope_per_day,
           round(sv / n, 6) AS value_mean
    FROM s
    WHERE CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
          - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) <> 0
    """,
)
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key least-squares trend (feature engineering: is this user's
    value drifting?): slope = (nΣtv − ΣtΣv)/(nΣtt − (Σt)²), time
    re-origined per key to integer SECONDS — with epoch microseconds the
    t² sums would exceed 2^53 and go inexact; in seconds every t-moment
    is an exact integer in both engines, so the denominator is
    bit-identical and only the v-weighted sums need rounding. One
    min-aggregate + one moment-aggregate, both map-side combined; keys
    with a single distinct time point are excluded (zero variance)."""
    ev = _t(spark, sf_dir, "events")
    t0 = ev.groupBy("user_id").agg(F.min(F.unix_micros("ts")).alias("us0"))
    pts = ev.join(t0, "user_id").select(
        "user_id",
        # integral DIV, not `/`: double division + cast could truncate to
        # a different integer than DuckDB's // at representation edges
        F.expr("CAST((unix_micros(ts) - us0) DIV 1000000 AS BIGINT)").alias("t"),
        F.col("value").alias("v"),
    )
    s = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum("v").alias("sv"),
        F.sum(F.col("t") * F.col("v")).alias("stv"),
    )
    # products in DOUBLE, not BIGINT: st*st is ~1.5e16 at sf0.1 and grows
    # quadratically with per-key event count — BIGINT would wrap silently
    # (ANSI off) within ~25x headroom while DuckDB errors. The moment sums
    # themselves are exact integers; the double PRODUCTS round identically
    # in both engines (one IEEE multiply of exact operands), so den==0
    # (all-t-equal keys) is still detected exactly.
    n_d = F.col("n").cast("double")
    st_d = F.col("st").cast("double")
    stt_d = F.col("stt").cast("double")
    den = n_d * stt_d - st_d * st_d
    slope = (n_d * F.col("stv") - st_d * F.col("sv")) / den
    return s.filter(den != 0).select(
        "user_id",
        "n",
        F.round(slope * F.lit(86400.0), 6).alias("slope_per_day"),
        F.round(F.col("sv") / F.col("n"), 6).alias("value_mean"),
    )


@register(
    "point_in_time_join",
    """
    WITH changes AS (
      SELECT c_custkey, c_name, c_acctbal,
             CAST(1000 AS BIGINT) AS ts, 'r' AS op
      FROM customer
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal + 100, 2000, 'u'
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal + 100, 3000, 'd'
      FROM customer WHERE c_custkey % 13 = 0
    ),
    v AS (
      SELECT *, lead(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS nxt
      FROM changes),
    hist AS (
      SELECT c_custkey, c_name, c_acctbal, ts AS valid_from,
             CAST(nxt AS DOUBLE) AS valid_to
      FROM v WHERE op <> 'd'),
    q AS (
      SELECT o_orderkey, o_custkey,
             CAST(1000 + (o_orderkey % 3) * 1000 AS BIGINT) AS qt
      FROM orders)
    SELECT q.o_orderkey, q.o_custkey, q.qt,
           h.c_name, h.c_acctbal
    FROM q
    LEFT JOIN hist h
      ON q.o_custkey = h.c_custkey
     AND q.qt >= h.valid_from
     AND (h.valid_to IS NULL OR q.qt < h.valid_to)
    """,
)
def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join — the training-serving-skew
    killer: each fact joins the dimension VERSION that was valid at its
    own timestamp, against the SCD2 history (versions bounded by
    [valid_from, valid_to); deleted keys' final version closes, so a
    later query time correctly gets NULLs instead of stale attributes).

    Plan shape: an ordinary LEFT equi-join on the key with the validity
    range as the join filter — versions per key are few, so the range
    filter runs over a handful of candidates per probe; no nested loop
    (asserted in tests/test_plans.py). Query times are synthesized
    deterministically (1000 + orderkey%3 × 1000 ms) to hit before/
    between/after every version boundary."""
    hist = cdc.scd2_history(_customer_envelope(spark, sf_dir), "c_custkey")
    q = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.lit(1000) + (F.col("o_orderkey") % 3) * 1000)
        .cast("bigint")
        .alias("qt"),
    )
    cond = (
        (q.o_custkey == hist.c_custkey)
        & (q.qt >= hist.valid_from)
        & (hist.valid_to.isNull() | (q.qt < hist.valid_to))
    )
    return q.join(hist, cond, "left").select(
        "o_orderkey", "o_custkey", "qt", "c_name", "c_acctbal"
    )


