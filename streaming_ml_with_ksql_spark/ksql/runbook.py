"""The reference's runbook, executable end-to-end (reference:
README.md:27-70): its literal KSQL statements, plus the topic bindings
that map the driver testdata onto the reference's Avro schemas
(events: generator.py:167-187; users: infra/mysql/setup.sql:4-14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import io as io_mod
from .compat import KsqlCompat

__all__ = ["STATEMENTS", "reference_topics", "run_runbook"]

# Verbatim from reference README.md:27-70.
STATEMENTS: dict[str, str] = {
    "users_stream": (
        "CREATE STREAM users_stream WITH (KAFKA_TOPIC = 'mysql.demo.users', "
        "VALUE_FORMAT = 'AVRO');"
    ),
    "users_rekey": (
        "CREATE STREAM users_stream_rekey AS SELECT * FROM users_stream "
        "PARTITION BY id;"
    ),
    "users_table": (
        "CREATE TABLE users WITH (KAFKA_TOPIC = 'USERS_STREAM_REKEY', "
        "VALUE_FORMAT = 'AVRO');"
    ),
    "events_stream": (
        "CREATE STREAM events WITH (KAFKA_TOPIC = 'events', "
        "VALUE_FORMAT = 'AVRO', TIMESTAMP='ts');"
    ),
    "hopping_table": """
CREATE TABLE events_in_10_minutes_window AS SELECT
  user_id,
  TIMESTAMPTOSTRING(min(events.rowtime), 'HH:mm:ss') as window_start,
  TIMESTAMPTOSTRING(max(events.rowtime), 'HH:mm:ss') as window_end,
  SUM(CASE WHEN event = 'main_page' THEN 1 ELSE 0 END) AS main_page_views,
  SUM(CASE WHEN event = 'products_listing' THEN 1 ELSE 0 END) AS listing_views,
  SUM(CASE WHEN event = 'product_page' THEN 1 ELSE 0 END) AS product_views,
  SUM(CASE WHEN event = 'product_gallery' THEN 1 ELSE 0 END) AS gallery_views
FROM events
WINDOW HOPPING (SIZE 10 MINUTES, ADVANCE BY 2 MINUTES) GROUP BY user_id;
""",
    "agg_stream": (
        "CREATE STREAM aggregated_events_stream WITH "
        "(KAFKA_TOPIC = 'EVENTS_IN_10_MINUTES_WINDOW', VALUE_FORMAT = 'AVRO');"
    ),
    "predictions": """
CREATE STREAM bot_detection_results AS
SELECT
    user_id,
    ip_address,
    window_start,
    window_end,
    predict('Bot Detector', as_array(country, platform), as_array(product_views, listing_views, gallery_views, nb_orders)) AS prediction
FROM aggregated_events_stream
LEFT JOIN users ON aggregated_events_stream.user_id = users.rowkey;
""",
}

# event_type → the reference generator's Markov states (generator.py:36-102)
EVENT_STATE_MAP = {
    "view": "main_page",
    "click": "products_listing",
    "purchase": "product_page",
    "error": "product_gallery",
}


def reference_topics(
    spark: SparkSession, sf_dir: str
) -> dict[str, tuple[DataFrame, str | None]]:
    """Bind the reference's two input topics to testdata-derived frames
    shaped like its schemas. country carries c_mktsegment values so the
    frozen bot_detector model sees known categories; users get CDC-style
    second versions for keys %5==0 so the TABLE compaction is exercised."""
    cust = io_mod.load_table(spark, sf_dir, "customer")
    users = (
        "c_custkey AS id",
        "c_mktsegment AS country",
        "element_at(array('Windows', 'Linux', 'Android', 'iOS'), "
        "CAST(c_custkey % 4 + 1 AS INT)) AS platform",
        "CAST(c_custkey % 20 + {bump} AS INT) AS nb_orders",
        "concat('10.0.', c_custkey % 256, '.1') AS ip_address",
        "CAST('2024-01-0{day} 00:00:00' AS TIMESTAMP) AS updated_at",
    )
    base = cust.selectExpr(*(c.format(bump=0, day=1) for c in users))
    updates = cust.where("c_custkey % 5 = 0").selectExpr(
        *(c.format(bump=1, day=2) for c in users)
    )
    users_topic = base.union(updates)

    # event types outside the reference's four Markov states (the driver
    # data has e.g. 'signup') become 'other' — counted by none of the
    # runbook's CASE arms, same as in the oracle
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in EVENT_STATE_MAP.items())
    events_topic = io_mod.load_table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "user_id",
        "ts",
        f"CASE event_type {whens} ELSE 'other' END AS event",
    )
    return {
        "mysql.demo.users": (users_topic, "updated_at"),
        "events": (events_topic, "ts"),
    }


def run_runbook(spark: SparkSession, sf_dir: str) -> KsqlCompat:
    """Execute every runbook statement in order; returns the engine with
    all relations registered as temp views."""
    ksql = KsqlCompat(spark, reference_topics(spark, sf_dir))
    for stmt in STATEMENTS.values():
        ksql.execute(stmt)
    return ksql
