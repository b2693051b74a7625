"""Runbook parity: the reference's literal KSQL statements (reference:
README.md:27-70) must run against this engine through the compat layer
and produce the same results as the native DataFrame operators."""

from __future__ import annotations

import pytest

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from streaming_ml_with_ksql_spark.ksql import KsqlCompat
from streaming_ml_with_ksql_spark.ml import predict as ml_predict
from streaming_ml_with_ksql_spark.operators.dedup import latest_per_key

# The statements, verbatim from the reference runbook (README.md:27-70).
STMT_USERS_STREAM = (
    "CREATE STREAM users_stream WITH (KAFKA_TOPIC = 'mysql.demo.users', "
    "VALUE_FORMAT = 'AVRO');"
)
STMT_REKEY = (
    "CREATE STREAM users_stream_rekey AS SELECT * FROM users_stream "
    "PARTITION BY id;"
)
STMT_USERS_TABLE = (
    "CREATE TABLE users WITH (KAFKA_TOPIC = 'USERS_STREAM_REKEY', "
    "VALUE_FORMAT = 'AVRO');"
)
STMT_PUSH_USERS = "select * from users emit changes;"
STMT_EVENTS = (
    "CREATE STREAM events WITH (KAFKA_TOPIC = 'events', "
    "VALUE_FORMAT = 'AVRO', TIMESTAMP='ts');"
)
STMT_HOPPING = """
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
"""
STMT_AGG_STREAM = (
    "CREATE STREAM aggregated_events_stream WITH "
    "(KAFKA_TOPIC = 'EVENTS_IN_10_MINUTES_WINDOW', VALUE_FORMAT = 'AVRO');"
)
STMT_CHECK_JOIN = """
SELECT user_id, country, platform, product_views, listing_views, gallery_views, nb_orders FROM aggregated_events_stream
LEFT JOIN users ON aggregated_events_stream.user_id = users.rowkey
EMIT CHANGES;
"""
STMT_PREDICT = """
CREATE STREAM bot_detection_results AS
SELECT
    user_id,
    ip_address,
    window_start,
    window_end,
    predict('Bot Detector', as_array(country, platform), as_array(product_views, listing_views, gallery_views, nb_orders)) AS prediction
FROM aggregated_events_stream
LEFT JOIN users ON aggregated_events_stream.user_id = users.rowkey;
"""


@pytest.fixture(scope="module")
def topics(spark, sf_small):
    """The runbook's topic bindings (ksql/runbook.py): driver-testdata
    frames shaped like the reference's Avro schemas."""
    from streaming_ml_with_ksql_spark.ksql.runbook import reference_topics

    return reference_topics(spark, sf_small)


@pytest.fixture(scope="module")
def engine(spark, topics):
    ksql = KsqlCompat(spark, topics)
    for stmt in [
        STMT_USERS_STREAM,
        STMT_REKEY,
        STMT_USERS_TABLE,
        STMT_EVENTS,
        STMT_HOPPING,
        STMT_AGG_STREAM,
    ]:
        ksql.execute(stmt)
    return ksql


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_users_table_is_latest_per_key(engine, topics):
    got = engine.execute(STMT_PUSH_USERS)
    expected = latest_per_key(topics["mysql.demo.users"][0], "id", "updated_at")
    assert _sorted_rows(got) == _sorted_rows(expected)
    # the CDC update won: keys %5==0 carry the bumped nb_orders
    bumped = got.filter((F.col("id") % 5 == 0) & (F.col("id") % 20 == 0))
    assert all(r.nb_orders == 1 for r in bumped.collect())


def test_latest_per_key_quotes_column_names(spark):
    """Key, ordering and payload columns whose names need backticks; the
    output keeps the input's column order."""
    import datetime as dt

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    df = spark.createDataFrame(
        [("x", 1, t0, 1), ("y", 1, t1, 2), ("z", 2, t0, 4), ("w", 2, t0, 3)],
        "`pay load` string, `user id` long, `event ts` timestamp, `seq no` int",
    )
    got = latest_per_key(df, "user id", "event ts", tiebreak="seq no")
    assert got.columns == df.columns
    assert sorted(map(tuple, got.collect())) == [("y", 1, t1, 2), ("z", 2, t0, 4)]


def test_hopping_table_matches_native_operator(engine, spark, topics):
    got = spark.table("events_in_10_minutes_window")
    ev = topics["events"][0]
    counts = {
        "main_page_views": "main_page",
        "listing_views": "products_listing",
        "product_views": "product_page",
        "gallery_views": "product_gallery",
    }
    expected = (
        ev.groupBy(F.window("ts", "10 minutes", "2 minutes"), "user_id")
        .agg(
            F.date_format(F.min("ts"), "HH:mm:ss").alias("window_start"),
            F.date_format(F.max("ts"), "HH:mm:ss").alias("window_end"),
            *[
                F.sum(F.when(F.col("event") == v, 1).otherwise(0)).alias(k)
                for k, v in counts.items()
            ],
        )
        .drop("window")
    )
    assert _sorted_rows(got) == _sorted_rows(expected)


def test_enrichment_join_runs(engine):
    got = engine.execute(STMT_CHECK_JOIN)
    assert got.count() > 0
    assert set(got.columns) == {
        "user_id", "country", "platform",
        "product_views", "listing_views", "gallery_views", "nb_orders",
    }
    # left-join: every user in events survives, users-side attrs attached
    assert got.filter(F.col("country").isNotNull()).count() > 0


def test_predict_statement_matches_whole_frame_scoring(engine, spark):
    got = engine.execute(STMT_PREDICT)
    assert set(got.columns) == {
        "user_id", "ip_address", "window_start", "window_end", "prediction",
    }
    # identical inputs through the native scoring operator
    enriched = spark.sql(
        """
        SELECT user_id, ip_address, window_start, window_end,
               array(country, platform) AS strs,
               array(product_views, listing_views, gallery_views, nb_orders) AS ints
        FROM aggregated_events_stream
        LEFT JOIN users ON aggregated_events_stream.user_id = users.id
        """
    )
    expected = ml_predict.predict_arrays(
        enriched, "Bot Detector", "strs", "ints"
    ).drop("strs", "ints")
    assert _sorted_rows(got) == _sorted_rows(expected)
    vals = {r.prediction for r in got.select("prediction").distinct().collect()}
    assert vals <= {"bot", "user", None}
    assert vals & {"bot", "user"}


def test_predict_alias_keeps_its_select_position(engine):
    got = engine.execute(
        """
        SELECT
          predict('Bot Detector', as_array(country, platform),
                  as_array(product_views, listing_views, gallery_views, nb_orders))
            AS prediction,
          user_id
        FROM aggregated_events_stream
        LEFT JOIN users ON aggregated_events_stream.user_id = users.rowkey
        EMIT CHANGES;
        """
    )
    assert got.columns == ["prediction", "user_id"]
    assert got.filter("prediction IS NOT NULL").count() > 0


def test_predict_in_any_clause_any_number_of_times(engine, spark):
    """Every predict() of a statement resolves: two in one SELECT, and one
    in a WHERE clause, each equal to whole-frame scoring."""
    strs = "as_array(country, platform)"
    ints = "as_array(product_views, listing_views, gallery_views, nb_orders)"
    swapped = "as_array(gallery_views, listing_views, product_views, nb_orders)"
    source = (
        "FROM aggregated_events_stream LEFT JOIN users "
        "ON aggregated_events_stream.user_id = users.rowkey"
    )
    both = engine.execute(
        f"SELECT user_id, window_start, "
        f"predict('Bot Detector', {strs}, {ints}) AS p, "
        f"predict('Bot Detector', {strs}, {swapped}) AS q {source};"
    )
    bots = engine.execute(
        f"SELECT user_id, window_start {source} "
        f"WHERE predict('Bot Detector', {strs}, {ints}) = 'bot';"
    )
    enriched = spark.sql(
        "SELECT user_id, window_start, array(country, platform) AS s, "
        "array(product_views, listing_views, gallery_views, nb_orders) AS i, "
        "array(gallery_views, listing_views, product_views, nb_orders) AS j "
        "FROM aggregated_events_stream LEFT JOIN users "
        "ON aggregated_events_stream.user_id = users.id"
    )
    expected = ml_predict.predict_arrays(
        enriched, "Bot Detector", "s", "i", output_col="p"
    )
    expected = ml_predict.predict_arrays(
        expected, "Bot Detector", "s", "j", output_col="q"
    ).drop("s", "i", "j")
    assert _sorted_rows(both) == _sorted_rows(expected)
    assert _sorted_rows(bots) == _sorted_rows(
        expected.where("p = 'bot'").select("user_id", "window_start")
    )
    assert 0 < bots.count() < both.count()


def test_show_and_describe_statements(engine):
    shows = {r.name: r for r in engine.execute("SHOW STREAMS;").collect()}
    assert {"USERS_STREAM", "USERS", "EVENTS", "EVENTS_IN_10_MINUTES_WINDOW"} <= set(
        shows
    )
    assert shows["USERS"].key == "id"
    desc = {r.field: r.type for r in engine.execute("DESCRIBE events;").collect()}
    assert desc["user_id"] == "bigint" and desc["event"] == "string"


def test_tumbling_and_session_window_statements(engine, spark, topics):
    """WINDOW TUMBLING / WINDOW SESSION clauses + the WINDOWSTART/WINDOWEND
    pseudo-columns must translate to window()/session_window() grouping
    with epoch-ms bounds — compared against the native DataFrame plans."""
    ev, ts = topics["events"]
    got = engine.execute(
        "SELECT user_id, WINDOWSTART AS ws, WINDOWEND AS we, count(*) AS n "
        "FROM events WINDOW TUMBLING (SIZE 10 MINUTES) GROUP BY user_id;"
    )
    expected = (
        ev.groupBy(F.window(ts, "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("ws"),
            F.unix_millis("w.end").alias("we"),
            "n",
        )
    )
    assert _sorted_rows(got) == _sorted_rows(expected)

    got = engine.execute(
        "SELECT user_id, WINDOWSTART AS ws, count(*) AS n "
        "FROM events WINDOW SESSION (15 MINUTES) GROUP BY user_id;"
    )
    expected = (
        ev.groupBy(F.session_window(ts, "15 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.unix_millis("sw.start").alias("ws"), "n")
    )
    assert _sorted_rows(got) == _sorted_rows(expected)


def test_scalar_builtins_match_catalyst(engine, spark, topics):
    """UCASE/LCASE/MASK/STRINGTOTIMESTAMP are SQL-defined Catalyst
    functions (no Python in the plan); MASK uses KSQL's default X/x/n
    masking."""
    users = topics["mysql.demo.users"][0]
    got = engine.execute(
        "SELECT UCASE(country) AS cu, LCASE(platform) AS pl, "
        "MASK(ip_address) AS mi FROM users_stream;"
    )
    expected = users.select(
        F.upper("country").alias("cu"),
        F.lower("platform").alias("pl"),
        F.expr("mask(ip_address, 'X', 'x', 'n', '-')").alias("mi"),
    )
    assert _sorted_rows(got) == _sorted_rows(expected)

    got2 = engine.execute(
        "SELECT STRINGTOTIMESTAMP(TIMESTAMPTOSTRING(rowtime, "
        "'yyyy-MM-dd HH:mm:ss'), 'yyyy-MM-dd HH:mm:ss') AS ms FROM events;"
    )
    expected2 = spark.sql(
        "SELECT unix_millis(to_timestamp(date_format(ts, "
        "'yyyy-MM-dd HH:mm:ss'), 'yyyy-MM-dd HH:mm:ss')) AS ms FROM events"
    )
    assert _sorted_rows(got2) == _sorted_rows(expected2)


def test_scalar_builtins_registered_once_per_session(spark, monkeypatch):
    """A second engine on the same session runs no CREATE statement; a new
    session, whose temporary functions start empty, registers them."""
    KsqlCompat(spark, {})
    statements = []
    sql = spark.sql

    def recording_sql(query, *args, **kwargs):
        statements.append(query)
        return sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", recording_sql)
    KsqlCompat(spark, {})
    monkeypatch.undo()
    assert not [q for q in statements if q.lstrip().upper().startswith("CREATE")]

    fresh = spark.newSession()
    assert not fresh.catalog.functionExists("GEO_DISTANCE")
    KsqlCompat(fresh, {})
    got = fresh.sql("SELECT TIMESTAMPTOSTRING(864000000, 'yyyy-MM-dd') AS d")
    want = fresh.sql(
        "SELECT date_format(timestamp_millis(864000000), 'yyyy-MM-dd') AS d"
    )
    assert got.collect() == want.collect()


def test_offset_aggregates_and_topk(spark):
    """LATEST/EARLIEST_BY_OFFSET map to max_by/min_by on the designated
    event time (the same order TABLE compaction uses); TOPK(x,k) yields
    the k largest values; COUNT_DISTINCT rewrites to count(DISTINCT).
    Run on a crafted topic with strictly distinct per-user timestamps so
    the offset order is unambiguous."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "a", t0 + dt.timedelta(seconds=1)),
        (1, "b", t0 + dt.timedelta(seconds=2)),
        (1, "c", t0 + dt.timedelta(seconds=3)),
        (2, "x", t0 + dt.timedelta(seconds=5)),
        (2, "y", t0 + dt.timedelta(seconds=4)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event string, ts timestamp")
    ksql = KsqlCompat(spark, {"ev_offsets": (df, "ts")})
    ksql.execute(
        "CREATE STREAM ev_off WITH (KAFKA_TOPIC = 'ev_offsets', TIMESTAMP='ts');"
    )
    got = {
        r.user_id: r
        for r in ksql.execute(
            "SELECT user_id, LATEST_BY_OFFSET(event) AS last_event, "
            "EARLIEST_BY_OFFSET(event) AS first_event, "
            "TOPK(event, 2) AS top2, COUNT_DISTINCT(event) AS nde "
            "FROM ev_off GROUP BY user_id;"
        ).collect()
    }
    assert (got[1].last_event, got[1].first_event) == ("c", "a")
    assert (got[2].last_event, got[2].first_event) == ("x", "y")
    assert got[1].top2 == ["c", "b"] and got[2].top2 == ["y", "x"]
    assert got[1].nde == 3 and got[2].nde == 2


def test_insert_into_appends_to_relation(spark):
    """INSERT INTO merges a second source into an existing stream: the
    relation becomes the by-name union, later statements see both."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    a = spark.createDataFrame(
        [(1, t0, "main_page"), (2, t0, "product_page")],
        "user_id long, ts timestamp, event string",
    )
    b = spark.createDataFrame(
        [(3, t0, "product_gallery")], "user_id long, ts timestamp, event string"
    )
    ksql = KsqlCompat(spark, {"ta": (a, "ts"), "tb": (b, "ts")})
    ksql.execute("CREATE STREAM s_a WITH (KAFKA_TOPIC='ta', TIMESTAMP='ts');")
    ksql.execute("CREATE STREAM s_b WITH (KAFKA_TOPIC='tb', TIMESTAMP='ts');")
    merged = ksql.execute(
        "INSERT INTO s_a SELECT user_id, ts, event FROM s_b;"
    )
    assert merged.count() == 3
    got = ksql.execute("SELECT count(*) AS n FROM s_a EMIT CHANGES;")
    assert got.first().n == 3


def test_grace_period_maps_to_watermark_and_is_statement_scoped(spark, tmp_path):
    """WINDOW ... GRACE PERIOD n U on a STREAMING source must inject
    withWatermark(ts, 'n u') into that statement's plan — and ONLY that
    statement's: the relation's registered view is restored afterwards,
    so a follow-up query sees no watermark. On batch sources GRACE is a
    no-op by definition (every event is on time)."""
    import datetime as dt

    from streaming_ml_with_ksql_spark.streaming import source as stream_source

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i % 4, t0 + dt.timedelta(minutes=i), "main_page") for i in range(40)],
        "user_id long, ts timestamp, event string",
    )
    d = str(tmp_path / "grace_events")
    stream_source.shard_table_to_dir(ev, d, num_shards=2, order_col="ts")
    stream = stream_source.stream_parquet_dir(spark, d)
    ksql = KsqlCompat(spark, {"gev": (stream, "ts")})
    ksql.execute("CREATE STREAM gevents WITH (KAFKA_TOPIC='gev', TIMESTAMP='ts');")
    created = ksql.execute(
        "CREATE TABLE g_counts AS SELECT user_id, count(*) AS n FROM gevents "
        "WINDOW TUMBLING (SIZE 10 MINUTES, GRACE PERIOD 3 MINUTES) "
        "GROUP BY user_id;"
    )
    assert created.isStreaming
    plan = created._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan and "3 minutes" in plan
    # statement-scoped: the next windowed statement WITHOUT grace carries
    # no watermark node
    plain = ksql.execute(
        "CREATE TABLE g_counts2 AS SELECT user_id, count(*) AS n FROM gevents "
        "WINDOW TUMBLING (SIZE 10 MINUTES) GROUP BY user_id;"
    )
    assert "EventTimeWatermark" not in plain._jdf.queryExecution().analyzed().toString()


def test_runbook_hopping_statement_through_file_stream(engine, spark, topics, tmp_path):
    """Batch/stream duality of the compat layer: the SAME verbatim runbook
    statements (STMT_EVENTS + STMT_HOPPING), executed against a topic bound
    to a *file stream* replay instead of a batch frame, produce exactly the
    batch engine's hopping table once the push query drains (complete mode =
    KSQL's every-refinement final state).

    NOTE: defined last in this module — the streaming engine re-registers
    the runbook's temp views ('events', 'events_in_10_minutes_window') in
    the shared session namespace.
    """
    from streaming_ml_with_ksql_spark.streaming import source as stream_source

    # snapshot the batch engine's answer BEFORE clobbering its views
    expected_rows = _sorted_rows(spark.table("events_in_10_minutes_window"))

    ev, ts = topics["events"][0], topics["events"][1]
    d = str(tmp_path / "events_replay")
    stream_source.shard_table_to_dir(ev, d, num_shards=3, order_col=ts)
    stream = stream_source.stream_parquet_dir(spark, d)

    ksql = KsqlCompat(spark, {**topics, "events": (stream, ts)})
    ksql.execute(STMT_EVENTS)
    created = ksql.execute(STMT_HOPPING)
    assert created.isStreaming  # the CSAS registered a continuous relation
    got = ksql.execute("SELECT * FROM events_in_10_minutes_window EMIT CHANGES;")
    assert not got.isStreaming  # the push query drained to a table
    assert _sorted_rows(got) == expected_rows


def test_generated_stream_insert_into_and_push_query(spark, tmp_path):
    """VERDICT r4 #6: the generator + compat surfaces composed — a
    GENERATED clickstream replayed as a file stream, a second cohort
    merged in with INSERT INTO, and a windowed push query (EMIT CHANGES)
    drained over the union. The drained table must equal the same
    statements run over the batch generator frames."""
    from streaming_ml_with_ksql_spark.sources import generator

    from streaming_ml_with_ksql_spark.streaming import source as stream_source

    stream = generator.clickstream_stream(
        spark, str(tmp_path / "clicks"), n_users=8, n_bots=2, n_ticks=30
    )
    batch = generator.synthetic_clickstream(
        spark, n_users=8, n_bots=2, n_ticks=30
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    # second cohort: the same walk shifted into a disjoint id space —
    # replayed as a stream too (Spark unions streams with streams)
    extra = batch.withColumn("user_id", F.col("user_id") + 100)
    d2 = str(tmp_path / "cohort2")
    stream_source.shard_table_to_dir(extra, d2, num_shards=2, order_col="tick")
    extra_stream = stream_source.stream_parquet_dir(spark, d2)

    stmt_decl = "CREATE STREAM clicks WITH (KAFKA_TOPIC='traffic', TIMESTAMP='ts');"
    stmt_ins = (
        "INSERT INTO clicks SELECT user_id, tick, ts_ms, event, is_bot, ts "
        "FROM cohort2;"
    )
    push = (
        "SELECT user_id, WINDOWSTART AS ws, count(*) AS n FROM clicks "
        "WINDOW TUMBLING (SIZE 1 MINUTE) GROUP BY user_id EMIT CHANGES;"
    )

    # streaming engine
    ks = KsqlCompat(
        spark, {"traffic": (stream, "ts"), "cohort2": (extra_stream, "ts")}
    )
    ks.execute(stmt_decl)
    ks.execute("CREATE STREAM cohort2 WITH (KAFKA_TOPIC='cohort2', TIMESTAMP='ts');")
    merged = ks.execute(stmt_ins)
    assert merged.isStreaming  # batch/stream duality: union stays unbounded
    got = ks.execute(push)
    assert not got.isStreaming  # push query drained through the memory sink

    # batch engine, same statements
    kb = KsqlCompat(spark, {"traffic": (batch, "ts"), "cohort2": (extra, "ts")})
    kb.execute(stmt_decl)
    kb.execute("CREATE STREAM cohort2 WITH (KAFKA_TOPIC='cohort2', TIMESTAMP='ts');")
    kb.execute(stmt_ins)
    want = kb.execute(
        "SELECT user_id, WINDOWSTART AS ws, count(*) AS n FROM clicks "
        "WINDOW TUMBLING (SIZE 1 MINUTE) GROUP BY user_id;"
    )
    assert _sorted_rows(got) == _sorted_rows(want)
    # both cohorts are present in the drained result
    ids = {r.user_id for r in got.collect()}
    assert ids & {0, 1} and ids & {100, 101}


def test_ksql54_scalar_builtins_extended(engine, spark, topics):
    """The remaining KSQL 5.4 scalar builtins: LEN, IFNULL (Spark ships
    it), EXTRACTJSONFIELD, STRINGTODATE/DATETOSTRING (days-since-epoch
    integers, KSQL's DATE carrier), GEO_DISTANCE (great-circle km)."""
    got = engine.execute(
        "SELECT LEN(country) AS lc, IFNULL(NULL, country) AS ic, "
        "EXTRACTJSONFIELD('{\"a\": {\"b\": \"x\"}}', '$.a.b') AS jf, "
        "STRINGTODATE('2022-03-15', 'yyyy-MM-dd') AS sd, "
        "DATETOSTRING(STRINGTODATE('2022-03-15', 'yyyy-MM-dd'), "
        "'yyyy/MM/dd') AS ds, "
        "ROUND(GEO_DISTANCE(52.23, 21.01, 50.06, 19.94)) AS dist_km "
        "FROM users_stream;"
    ).first()
    assert got.ic is not None and got.lc == len(got.ic)  # IFNULL passthrough
    assert got.jf == "x"
    assert got.sd == 19066  # days from 1970-01-01 to 2022-03-15
    assert got.ds == "2022/03/15"
    assert got.dist_km == 253.0  # Warsaw–Krakow great-circle, km


def test_histogram_and_topkdistinct(spark):
    """HISTOGRAM(col) → deterministic MAP<value, count>; TOPKDISTINCT
    deduplicates before taking the k largest."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, t0, e) for e in ["a", "b", "a", "c", "a", "b"]],
        "user_id long, ts timestamp, event string",
    )
    ks = KsqlCompat(spark, {"hev": (ev, "ts")})
    ks.execute("CREATE STREAM histev WITH (KAFKA_TOPIC='hev', TIMESTAMP='ts');")
    row = ks.execute(
        "SELECT user_id, HISTOGRAM(event) AS h, "
        "TOPKDISTINCT(event, 2) AS t2 FROM histev GROUP BY user_id;"
    ).first()
    assert dict(row.h) == {"a": 3, "b": 2, "c": 1}
    assert list(row.t2) == ["c", "b"]


def test_malformed_statements_fail_loudly(spark):
    """The compat layer is a shim, not a parser — anything outside its
    statement grammar must raise with a clear message, never silently
    no-op (a mistyped runbook statement should stop the runbook)."""
    import datetime as dt

    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "main_page")],
        "user_id long, ts timestamp, event string",
    )
    ks = KsqlCompat(spark, {"t_err": (ev, "ts")})
    with pytest.raises(ValueError, match="unsupported statement"):
        ks.execute("ALTER STREAM something ADD COLUMN x INT;")
    with pytest.raises(KeyError, match="unknown relation"):
        # DROP joined the grammar in r6; an unknown target still fails loudly
        ks.execute("DROP STREAM something;")
    with pytest.raises(KeyError, match="unknown topic"):
        ks.execute("CREATE STREAM s WITH (KAFKA_TOPIC='missing');")
    with pytest.raises(KeyError, match="unknown relation"):
        ks.execute("INSERT INTO missing SELECT 1;")
    with pytest.raises(KeyError, match="unknown relation"):
        ks.execute("DESCRIBE missing;")
    with pytest.raises(ValueError, match="need KEY"):
        # TABLE materialization without a key cannot compact
        ks.execute("CREATE TABLE t1 WITH (KAFKA_TOPIC='t_err');")
    ks.execute("CREATE STREAM s_ok WITH (KAFKA_TOPIC='t_err');")
    with pytest.raises(AnalysisException, match="WRONG_NUM_ARGS"):
        # predict() takes (model, array<string>, array<int>)
        ks.execute("SELECT predict('Bot Detector', as_array(event)) AS p FROM s_ok;")
    with pytest.raises(ValueError, match="cannot parse|event-time"):
        # windowed statement with a malformed duration body
        ks.execute(
            "CREATE TABLE t2 AS SELECT user_id, count(*) AS n FROM s_ok "
            "WINDOW HOPPING (SIZE banana) GROUP BY user_id;"
        )


def test_query_lifecycle_terminate_then_drop(spark):
    """ksqlDB's operational loop (VERDICT r5 #6): CREATE → SHOW QUERIES
    lists the persistent query RUNNING → DROP of a relation in use is
    refused → TERMINATE retires the query (sink stays materialized) →
    DROP deregisters relation + temp view. IF EXISTS swallows unknowns;
    TERMINATE ALL retires everything."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1)), (2, "b", dt.datetime(2024, 1, 2))],
        "id long, v string, ts timestamp",
    )
    ks = KsqlCompat(spark, {"lifecycle_topic": (df, "ts")})
    ks.execute(
        "CREATE STREAM life_src WITH (KAFKA_TOPIC='lifecycle_topic');"
    )
    ks.execute("CREATE STREAM life_derived AS SELECT id, v FROM life_src;")

    qs = {r.query_id: r for r in ks.execute("SHOW QUERIES;").collect()}
    assert len(qs) == 1
    (qid,) = qs
    assert qid.startswith("CSAS_LIFE_DERIVED_")
    assert qs[qid].state == "RUNNING" and qs[qid].sink == "LIFE_DERIVED"

    # drop guard: both the sink and the source are pinned by the query
    with pytest.raises(ValueError, match="TERMINATE"):
        ks.execute("DROP STREAM life_derived;")
    with pytest.raises(ValueError, match="TERMINATE"):
        ks.execute("DROP STREAM life_src;")

    ks.execute(f"TERMINATE {qid};")
    state = {r.query_id: r.state for r in ks.execute("SHOW QUERIES;").collect()}
    assert state[qid] == "TERMINATED"

    # sink is still materialized after TERMINATE (server semantics)
    assert ks.execute("SELECT count(*) AS n FROM life_derived;").collect()[0].n == 2

    ks.execute("DROP STREAM life_derived;")
    ks.execute("DROP STREAM life_src;")
    assert ks.relations == {}
    with pytest.raises(KeyError):
        ks.execute("DROP STREAM life_derived;")
    ks.execute("DROP STREAM IF EXISTS life_derived;")  # swallowed
    # the temp view is gone too, not just the registry entry
    with pytest.raises(Exception):
        spark.sql("SELECT * FROM life_derived")

    # TERMINATE ALL retires every remaining query in one statement
    ks2 = KsqlCompat(spark, {"lifecycle_topic": (df, "ts")})
    ks2.execute("CREATE STREAM s2 WITH (KAFKA_TOPIC='lifecycle_topic');")
    ks2.execute("CREATE STREAM d1 AS SELECT id FROM s2;")
    ks2.execute("CREATE TABLE t1 AS SELECT id, count(*) AS n FROM s2 GROUP BY id;")
    ks2.execute("TERMINATE ALL;")
    assert {r.state for r in ks2.execute("SHOW QUERIES;").collect()} == {"TERMINATED"}
    ks2.execute("DROP TABLE t1;")
    ks2.execute("DROP STREAM d1;")
    ks2.execute("DROP STREAM s2;")


def test_explain_statement(spark):
    """EXPLAIN <query_id> returns the persistent query's physical plan;
    EXPLAIN <select> plans an inline statement; unknown ids fail
    loudly."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1))], "id long, v string, ts timestamp"
    )
    ks = KsqlCompat(spark, {"exp_topic": (df, "ts")})
    ks.execute("CREATE STREAM exp_src WITH (KAFKA_TOPIC='exp_topic');")
    ks.execute(
        "CREATE TABLE exp_agg AS SELECT id, count(*) AS n FROM exp_src GROUP BY id;"
    )
    qid = ks.execute("SHOW QUERIES;").collect()[0].query_id
    row = ks.execute(f"EXPLAIN {qid};").collect()[0]
    assert row.query_id == qid and "HashAggregate" in row.plan
    row = ks.execute("EXPLAIN SELECT id FROM exp_src WHERE id > 0;").collect()[0]
    assert "Filter" in row.plan or "PushedFilters" in row.plan
    with pytest.raises(KeyError, match="unknown query"):
        ks.execute("EXPLAIN CSAS_NOPE_99;")


def test_list_is_show_synonym(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "id long, ts timestamp"
    )
    ks = KsqlCompat(spark, {"list_topic": (df, "ts")})
    ks.execute("CREATE STREAM list_src WITH (KAFKA_TOPIC='list_topic');")
    ks.execute("CREATE STREAM list_d AS SELECT id FROM list_src;")
    assert {r.name for r in ks.execute("LIST STREAMS;").collect()} == {
        r.name for r in ks.execute("SHOW STREAMS;").collect()
    }
    assert ks.execute("LIST QUERIES;").count() == 1


def test_runbook_over_confluent_avro_topics(spark, topics):
    """VALUE_FORMAT='AVRO' end-to-end minus only the broker: the events
    topic passes through the Confluent wire format (local schema
    registry + pure-Python Avro binary) before binding, and the
    reference's hopping-window statement produces results identical to
    binding the frame directly."""
    from streaming_ml_with_ksql_spark.sources import avro_py

    ev, ts = topics["events"]
    reg = avro_py.LocalSchemaRegistry()
    wire = avro_py.encode_confluent(ev, reg, "events")
    decoded = avro_py.decode_confluent(wire, reg)

    direct = KsqlCompat(spark, {"events": (ev, ts)})
    via_avro = KsqlCompat(spark, {"events": (decoded, ts)})
    for ks in (direct, via_avro):
        ks.execute(
            "CREATE STREAM events WITH (KAFKA_TOPIC = 'events', "
            "VALUE_FORMAT = 'AVRO', TIMESTAMP='ts');"
        )
        ks.execute(STMT_HOPPING)
    a = _sorted_rows(direct.execute("SELECT * FROM events_in_10_minutes_window;"))
    via_avro.execute(STMT_HOPPING.replace(
        "events_in_10_minutes_window", "events_in_10_minutes_window_avro"
    ))
    b = _sorted_rows(
        via_avro.execute("SELECT * FROM events_in_10_minutes_window_avro;")
    )
    assert a == b and len(a) > 0


def test_print_topic_statement(spark):
    """PRINT 'topic' renders bounded raw records as JSON values with the
    CLI's default tail limit; LIMIT overrides; unknown topics fail."""
    import json as _json

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "id long, v string"
    )
    ks = KsqlCompat(spark, {"print.topic": (df, None)})
    rows = ks.execute("PRINT 'print.topic';").collect()
    assert len(rows) == 20 and rows[0].topic == "print.topic"
    doc = _json.loads(rows[0].value)
    assert set(doc) == {"id", "v"}
    assert ks.execute("PRINT 'print.topic' FROM BEGINNING LIMIT 3;").count() == 3
    with pytest.raises(KeyError, match="unknown topic"):
        ks.execute("PRINT 'missing.topic';")
