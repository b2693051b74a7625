"""Flagship hopping window, projections/scalars, joins, first TPC-H shapes, ML scoring.

Split from the monolithic registry (round 7, VERDICT r6 #8); the
@register calls run at package import in the original registration
order, so ``queries()`` is unchanged.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401

# --------------------------------------------------------------------------
# Flagship: hopping-window per-user aggregate (W1, W2, A1-A4, P3, P4, P7)
# Reference: README.md:41-50.
# --------------------------------------------------------------------------

# DuckDB has no hopping-window builtin; the oracle expands each event into
# its size/slide = 5 overlapping epoch-aligned windows (the same grid Spark's
# F.window uses: window_start = floor(epoch/slide)*slide - i*slide, i in 0..4)
# and then group-by's. Integer microsecond arithmetic avoids float drift.
_HOPPING_ORACLE = """
WITH hop AS (SELECT unnest(generate_series(0, 4)) AS i),
exp AS (
  SELECT
    e.*,
    make_timestamp((epoch_us(e.ts) // 120000000) * 120000000 - h.i * 120000000)
      AS window_start
  FROM events e CROSS JOIN hop h
)
SELECT
  window_start,
  window_start + INTERVAL 10 MINUTE AS window_end,
  user_id,
  min(ts) AS first_ts,
  max(ts) AS last_ts,
  strftime(min(ts), '%H:%M:%S') AS first_event_time,
  strftime(max(ts), '%H:%M:%S') AS last_event_time,
  count(*) AS n_events,
  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count
FROM exp
GROUP BY window_start, user_id
"""


@register("hopping_window_agg", _HOPPING_ORACLE)
def q_hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.hopping_window_agg(_t(spark, sf_dir, "events"))


_TUMBLING_ORACLE = """
SELECT
  make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
  make_timestamp((epoch_us(ts) // 600000000) * 600000000) + INTERVAL 10 MINUTE
    AS window_end,
  user_id,
  count(*) AS n_events,
  sum(value) AS sum_value,
  min(ts) AS first_ts,
  max(ts) AS last_ts
FROM events
GROUP BY 1, 2, 3
"""


@register("tumbling_window_agg", _TUMBLING_ORACLE)
def q_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.tumbling_window_agg(_t(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Projections / filters / scalar expressions (P1-P8)
# --------------------------------------------------------------------------

@register(
    "projection_filter_cast",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS INT) AS qty_int,
           round(l_extendedprice * (1 - l_discount), 4) AS disc_price,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_return
    FROM lineitem
    WHERE l_discount > 0.05 AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def q_projection_filter_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P4/P5/P6: projection, CASE WHEN, filter, cast (reference:
    README.md:45-48, train.py:284-286,374-375)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_discount") > 0.05)
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "disc_price"
        ),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_return"),
    )


@register(
    "timestamp_format",
    """
    SELECT event_id,
           strftime(ts, '%H:%M:%S') AS event_time_str,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts_str
    FROM events
    """,
)
def q_timestamp_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: TIMESTAMPTOSTRING parity (reference: README.md:43-44)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        timestamp_to_string("ts", "HH:mm:ss").alias("event_time_str"),
        timestamp_to_string("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts_str"),
    )


@register(
    "array_constructor",
    """
    SELECT event_id,
           array_to_string([event_type, props], ',') AS str_features,
           -- trunc, not cast: Spark's double→int cast truncates toward zero
           -- while DuckDB's rounds
           array_to_string([CAST(user_id AS VARCHAR),
                            CAST(CAST(trunc(value) AS INT) AS VARCHAR)], ',')
             AS int_features
    FROM events
    """,
)
def q_array_constructor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: as_array (reference: README.md:68). Arrays are rendered with
    array_join for the oracle hash; the raw-array form feeds the scoring
    operator (ml/)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.array_join(as_array("event_type", "props"), ",").alias("str_features"),
        F.array_join(
            as_array(
                F.col("user_id").cast("string"),
                F.col("value").cast("int").cast("string"),
            ),
            ",",
        ).alias("int_features"),
    )


@register(
    "case_when_indicators",
    """
    SELECT event_id, user_id,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS product_views,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS listing_views,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS gallery_views,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS error_views
    FROM events
    """,
)
def q_case_when_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3/P4: event-type one-hot indicators (reference: train.py:245-253)."""
    ev = _t(spark, sf_dir, "events")
    ind = lambda et: F.when(F.col("event_type") == et, 1).otherwise(0)  # noqa: E731
    return ev.select(
        "event_id",
        "user_id",
        ind("view").alias("product_views"),
        ind("click").alias("listing_views"),
        ind("purchase").alias("gallery_views"),
        ind("error").alias("error_views"),
    )


# --------------------------------------------------------------------------
# Latest-per-key (A6), joins (J1/J4), rolling features (A5), distinct (A7)
# --------------------------------------------------------------------------

@register(
    "latest_per_key",
    """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: KSQL TABLE materialization — latest row per key
    (reference: README.md:29)."""
    ev = _t(spark, sf_dir, "events")
    return dedup.latest_per_key(ev, "user_id", "ts", tiebreak="event_id")


_ENRICHED_JOIN_ORACLE = """
WITH hop AS (SELECT unnest(generate_series(0, 4)) AS i),
exp AS (
  SELECT e.*,
    make_timestamp((epoch_us(e.ts) // 120000000) * 120000000 - h.i * 120000000)
      AS window_start
  FROM events e CROSS JOIN hop h
),
agg AS (
  SELECT window_start,
         window_start + INTERVAL 10 MINUTE AS window_end,
         user_id,
         count(*) AS n_events,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS purchase_count
  FROM exp GROUP BY window_start, user_id
)
SELECT a.window_start, a.window_end, a.user_id, a.n_events, a.purchase_count,
       c.c_name, c.c_mktsegment, c.c_acctbal
FROM agg a LEFT JOIN customer c ON a.user_id = c.c_custkey
"""


@register("enriched_window_join", _ENRICHED_JOIN_ORACLE)
def q_enriched_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: stream–table LEFT OUTER join — the reference's
    aggregated_events_stream ⋈ users enrichment (reference: README.md:62-70),
    with customer standing in for the users dimension. Dimension broadcast —
    no fact-side shuffle for the join."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "2 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            windows.count_if(F.col("event_type") == "purchase").alias("purchase_count"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n_events",
            "purchase_count",
        )
    )
    return joins.enrich_left_join(agg, cust, "user_id", "c_custkey").select(
        "window_start",
        "window_end",
        "user_id",
        "n_events",
        "purchase_count",
        "c_name",
        "c_mktsegment",
        "c_acctbal",
    )


@register(
    "rolling_counts",
    """
    SELECT event_id, user_id, ts, event_type,
      CAST(count(*) OVER w AS INT) AS events_in_window,
      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w AS INT)
        AS views_in_window,
      CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w AS INT)
        AS clicks_in_window,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER w AS INT)
        AS purchases_in_window,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w AS INT)
        AS errors_in_window
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-event trailing-600s rolling counts
    (reference: train.py:260-276)."""
    return rolling.rolling_counts(_t(spark, sf_dir, "events"))


@register("distinct_users", "SELECT DISTINCT user_id FROM events")
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: key enumeration (reference: train.py:257)."""
    return dedup.distinct_keys(_t(spark, sf_dir, "events"), "user_id")


# --------------------------------------------------------------------------
# TPC-H-style relational plans (SURVEY.md §2.9 surface)
# --------------------------------------------------------------------------

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
             AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.pricing_summary(_t(spark, sf_dir, "lineitem"))


@register(
    "shipping_priority",
    """
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        segment="BUILDING",
        cutoff="1997-06-30",
    )


@register(
    "local_supplier_volume",
    """
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.local_supplier_volume(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
    )


@register(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus, rank_in_customer
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
             CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT)
               AS rank_in_customer
      FROM orders)
    WHERE rank_in_customer <= 3
    """,
)
def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.top_orders_per_customer(_t(spark, sf_dir, "orders"))


@register(
    "returnflag_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_returnflag_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.returnflag_rollup(_t(spark, sf_dir, "lineitem"))


@register(
    "event_type_pivot",
    """
    SELECT user_id,
           count(*) FILTER (event_type = 'view') AS view,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'signup') AS signup
    FROM events GROUP BY user_id
    """,
)
def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.event_type_pivot(_t(spark, sf_dir, "events"))


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.customers_without_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register(
    "active_event_customers",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    """,
)
def q_active_event_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.active_event_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "events")
    )


@register(
    "key_set_ops",
    """
    SELECT 'both' AS tag, user_id AS key FROM
      (SELECT DISTINCT user_id FROM events
       INTERSECT SELECT DISTINCT c_custkey FROM customer)
    UNION ALL
    SELECT 'events_only' AS tag, user_id AS key FROM
      (SELECT DISTINCT user_id FROM events
       EXCEPT SELECT DISTINCT c_custkey FROM customer)
    """,
)
def q_key_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY.md §2.9): INTERSECT / EXCEPT / UNION ALL."""
    ev_keys = _t(spark, sf_dir, "events").select(F.col("user_id").alias("key")).distinct()
    cust_keys = (
        _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key")).distinct()
    )
    both = ev_keys.intersect(cust_keys).select(F.lit("both").alias("tag"), "key")
    only = ev_keys.exceptAll(cust_keys).select(
        F.lit("events_only").alias("tag"), "key"
    )
    return both.unionAll(only)


# --------------------------------------------------------------------------
# ML scoring surface (U1-U3): registry-resolved model, whole-frame transform
# --------------------------------------------------------------------------

# The frozen bot_detector's decision function was verified to be the single
# split `events_in_window > 4.5` (models/bot_detector/Production; see
# tests/test_ml.py::test_tree_is_threshold_rule which guards this), so the
# oracle can express the model exactly in SQL — a hash-checked ML scoring
# query. Retraining the model requires re-deriving this oracle.
_SCORE_FEATS_CTE = """
WITH feats AS (
  SELECT event_id, user_id,
         CAST(count(*) OVER w AS INT) AS events_in_window
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
)
"""


@register(
    "score_events",
    _SCORE_FEATS_CTE
    + """
    SELECT event_id, user_id, events_in_window,
           CASE WHEN events_in_window >= 5 THEN 'bot' ELSE 'user' END AS prediction
    FROM feats
    """,
)
def q_score_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 preferred path (SURVEY.md): whole-frame scoring by the model
    compiled into one SQL expression — the reference's per-row `predict`
    UDF (PredictUdf.java:39-59) done as a DataFrame operator."""
    frame = ml_features.build_training_frame(
        _t(spark, sf_dir, "events"), _t(spark, sf_dir, "customer")
    )
    return ml_predict.score(frame, "bot_detector").select(
        "event_id", "user_id", "events_in_window", "prediction"
    )


@register(
    "predict_arrays_events",
    _SCORE_FEATS_CTE
    + """
    SELECT event_id, user_id,
           CASE WHEN event_id % 97 = 0 THEN NULL
                WHEN events_in_window >= 5 THEN 'bot' ELSE 'user' END AS prediction
    FROM feats
    """,
)
def q_predict_arrays_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 API-parity path: predict(model, as_array(strings), as_array(ints))
    (reference: README.md:68) with positional signature binding
    (PredictUdf.java:48-56) and error→NULL (PredictUdf.java:60-63) —
    exercised by deterministically corrupting every 97th row's int array."""
    frame = ml_features.build_training_frame(
        _t(spark, sf_dir, "events"), _t(spark, sf_dir, "customer")
    )
    with_arrays = frame.select(
        "event_id",
        "user_id",
        as_array("c_mktsegment").alias("str_features"),
        F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
            as_array(*ml_features.INT_FEATURES)
        ).alias("int_features"),
    )
    return ml_predict.predict_arrays(
        with_arrays, "bot_detector", "str_features", "int_features"
    ).select("event_id", "user_id", "prediction")


