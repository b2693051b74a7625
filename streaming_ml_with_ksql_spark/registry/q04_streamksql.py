"""Structured Streaming parity queries + KSQL runbook parity.

Split from the monolithic registry (round 7, VERDICT r6 #8); the
@register calls run at package import in the original registration
order, so ``queries()`` is unchanged.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _scratch_dir, _t, register  # noqa: F401
from .q01_core import _HOPPING_ORACLE  # noqa: F401
from .q03_analytics import _SESSION_GAP, _SESSION_ORACLE_BODY, _customer_envelope  # noqa: F401

# --------------------------------------------------------------------------
# Structured Streaming parity queries (SURVEY.md §2.5 W1-W5, §7 phase 5).
# Each replays the events table as a 4-shard file stream (deterministic
# stand-in for the reference's Kafka topics) and returns the drained sink.
# --------------------------------------------------------------------------

_STREAM_SEQ = itertools.count()
_STREAM_WM = "2 minutes"


def _replay_events(spark: SparkSession, sf_dir: str):
    # one sharded copy per sf_dir, shared by the streaming queries
    d = _scratch_dir(
        "replay",
        sf_dir,
        lambda d: stream_source.shard_table_to_dir(
            _t(spark, sf_dir, "events"), d, num_shards=4, order_col="ts"
        ),
    )
    # 2 files/trigger: still a multi-batch replay (watermark advances across
    # data batches + the trailing flush batch), at half the micro-batch
    # scheduling overhead of 1-file triggers. Emission sets are invariant to
    # batching — append emits each window exactly once across batches and
    # eviction depends only on the FINAL watermark — so every streaming
    # oracle is unchanged (tests/test_streaming.py keeps a 1-file replay for
    # the fine-grained progression checks).
    return stream_source.stream_parquet_dir(spark, d, max_files_per_trigger=2)


@register(
    "streaming_hopping_window",
    f"""
    SELECT * FROM ({_HOPPING_ORACLE}) r
    WHERE r.window_end <= (SELECT max(ts) FROM events) - INTERVAL 2 MINUTE
    """,
)
def q_streaming_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W3/W5: the flagship hopping aggregate run THROUGH Structured
    Streaming (file replay → watermark → append sink). Append mode emits
    exactly the windows finalized by the final watermark (max ts − delay) —
    the oracle states that set in SQL, making the batch/stream divergence
    (SURVEY.md §7 hard part 1) itself oracle-checked."""
    stream = _replay_events(spark, sf_dir)
    return stream_sinks.run_to_memory(
        stream_queries.hopping_window_stream(stream, watermark_delay=_STREAM_WM),
        f"reg_stream_hopping_{next(_STREAM_SEQ)}",
    )


# Deterministic planted-late subset: a sliver of old events (every 17th id,
# at least one day older than the stream's max event time) is delivered
# LAST. The margin is deliberately huge — window size (10 min) + watermark
# delay (2 min) + the inter-event gap at any sf — so by arrival every
# hopping window that could absorb such an event has long been finalized
# and evicted, and the watermark policy must drop all of them.
_LATE_PRED_SQL = (
    "event_id % 17 = 0 AND ts <= (SELECT max(ts) FROM events) - INTERVAL 1 DAY"
)


def _append_stamped(df: DataFrame, d: str, stamp: float) -> None:
    """Append df as one parquet file in d with a pinned mtime (replay order
    is mtime order)."""
    before = set(os.listdir(d))
    df.coalesce(1).write.mode("append").parquet(d)
    for fname in set(os.listdir(d)) - before:
        if fname.startswith("part-"):
            os.utime(os.path.join(d, fname), (stamp, stamp))


def _replay_events_with_late(spark: SparkSession, sf_dir: str):
    """Replay events with the planted-late sliver arriving after everything
    else. Delivery order (2 files per trigger since r13 — see the batching
    note below): [2 time-range shards of the on-time bulk], [two
    single-row "heartbeat" files carrying the two newest on-time events],
    [the late file, alone]. The trailing-batch spacing matters: Spark
    filters late input with the watermark as of the PREVIOUS batch's
    start (SPARK-24634 two-watermark semantics — data through batch N−2),
    so the late batch must arrive two batches after watermark-raising
    data for the drop policy to apply in full — here the bulk batch
    itself is that raiser (its max ts beats every late window end by the
    1-day plant margin). Memoized per sf_dir like _replay_events."""
    d = _scratch_dir(
        "replay_late", sf_dir, lambda d: _write_late_replay(spark, sf_dir, d)
    )
    return stream_source.stream_parquet_dir(spark, d, max_files_per_trigger=2)


def _write_late_replay(spark: SparkSession, sf_dir: str, d: str) -> None:
    """Write _replay_events_with_late's files into ``d``."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m")).first()["m"]
    late = (F.col("event_id") % 17 == 0) & (
        F.col("ts") <= F.lit(mx) - F.expr("INTERVAL 1 DAY")
    )
    on_time = ev.filter(~late)
    tail_ids = [
        r["event_id"]
        for r in on_time.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(2)
        .collect()
    ]
    # Replay batching (VERDICT r12 #6, superseding the r11 3-shard
    # pin): 2 bulk shards + 2 files/trigger turns the 6-file/6-batch
    # replay into 5 files / 3 micro-batches — [b1,b2], [h1,h2],
    # [late] — HALVING the job count while provably preserving both
    # halves of the oracle-checked semantics:
    #   emission set — append mode emits exactly the windows whose
    #   end the FINAL watermark (max on-time ts − delay, carried by
    #   the heartbeats) passes, regardless of how earlier data was
    #   batched (the same argument as _replay_events' 2-file
    #   batching);
    #   drop set — the odd file count pins the late file ALONE in
    #   the last batch, whose filter watermark (SPARK-24634: state
    #   as of the previous batch's start, i.e. data through the
    #   bulk batch) is bulk-max-ts − 2 min, exceeding every planted
    #   late window end by ≥ the 1-day plant margin − window −
    #   delay. The heartbeats may now share a trigger: they are
    #   on-time rows whose only job is raising the FINAL watermark,
    #   which no batching changes.
    # r11's A/B (bulk 3→1 shard at 1 file/trigger, 6→4 batches)
    # measured no wall-time win — the change is kept for the job
    # count (3 fewer stateful micro-batches, each a state-store
    # commit at any scale), with the r13 A/B recorded in SURVEY §8.
    stream_source.shard_table_to_dir(
        on_time.filter(~F.col("event_id").isin(tail_ids)),
        d,
        num_shards=2,
        order_col="ts",
    )
    stamp = time.time() + 3600  # strictly newer than every bulk shard
    for i, eid in enumerate(reversed(tail_ids)):  # older heartbeat first
        _append_stamped(on_time.filter(F.col("event_id") == eid), d, stamp + i)
    _append_stamped(ev.filter(late), d, stamp + len(tail_ids))


# ADVICE r4: the oracle derives from _HOPPING_ORACLE by substituting its
# source relation; a silent replace() no-op (if the hopping FROM clause is
# ever reworded) would fold late events back into the oracle and fail the
# driver far from the cause — assert the substitution actually happened.
_LATE_ORACLE_BODY = _HOPPING_ORACLE.replace("FROM events e", "FROM on_time e")
assert "FROM on_time e" in _LATE_ORACLE_BODY, (
    "streaming_late_data_policy oracle: _HOPPING_ORACLE no longer contains "
    "'FROM events e' — update the source-relation substitution"
)


@register(
    "streaming_late_data_policy",
    f"""
    WITH on_time AS (SELECT * FROM events WHERE NOT ({_LATE_PRED_SQL}))
    SELECT * FROM ({_LATE_ORACLE_BODY}) r
    WHERE r.window_end <= (SELECT max(ts) FROM events) - INTERVAL 2 MINUTE
    """,
)
def q_streaming_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 made testable: the watermark-dropped emission set under PLANTED
    late data, stated explicitly by the oracle. KSQL would fold the late
    sliver into its changelog (EMIT CHANGES re-emits the refined windows
    until state retention expires, reference: README.md:41-50); Spark's
    append mode emits each window exactly once when the watermark passes
    its end and must then DROP late rows for evicted windows (the filter
    applies the previous batch's start watermark — SPARK-24634 — which the
    replay's heartbeat batches account for). The oracle is
    therefore the hopping aggregate over the on-time subset only, restricted
    to finalized windows — the late events' total absence from every
    aggregate is what's hash-checked. See README §"Late data: KSQL vs
    Spark semantics"."""
    stream = _replay_events_with_late(spark, sf_dir)
    return stream_sinks.run_to_memory(
        stream_queries.hopping_window_stream(stream, watermark_delay=_STREAM_WM),
        f"reg_stream_late_{next(_STREAM_SEQ)}",
    )


@register(
    "streaming_latest_per_key",
    """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q_streaming_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/W3: KSQL TABLE materialization as a continuously-updated
    streaming aggregate (complete output mode = the full changelog table),
    converging to the same answer as the batch latest_per_key query."""
    stream = _replay_events(spark, sf_dir)
    return stream_sinks.run_to_memory(
        dedup.latest_per_key(stream, "user_id", "ts", tiebreak="event_id"),
        f"reg_stream_latest_{next(_STREAM_SEQ)}",
        output_mode="complete",
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


def _replay_cdc_changelog(spark: SparkSession, sf_dir: str):
    """Replay the synthesized customer CDC changelog as a file stream:
    flattened change rows sharded by change timestamp (snapshot reads,
    then updates, then deletes arrive as separate micro-batches — the
    binlog order). Memoized per sf_dir like _replay_events."""

    def fill(d: str) -> None:
        changelog = cdc.unwrap_debezium(
            _customer_envelope(spark, sf_dir), keep_deletes=True
        ).withColumn("ts", F.timestamp_millis(F.col("__ts_ms")))
        stream_source.shard_table_to_dir(
            changelog, d, num_shards=3, order_col="ts"
        )

    return stream_source.stream_parquet_dir(
        spark, _scratch_dir("cdc_replay", sf_dir, fill)
    )


@register(
    "streaming_cdc_upsert",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END
             AS c_acctbal
    FROM customer
    WHERE c_custkey % 13 <> 0
    """,
)
def q_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 through Structured Streaming end to end: the Debezium changelog
    REPLAYED as a stream (snapshot → updates → deletes micro-batches),
    compacted per key by the explicit state machine
    (latest_per_key_stateful, __op carried in the payload so deletes
    survive compaction as tombstones), drained, and MERGE-applied:
    newest change per key wins, tombstoned keys drop. Must converge to
    the same table as the batch cdc_snapshot — which is what the oracle
    states. This is the streaming twin of cdc_snapshot_customers."""
    stream = _replay_cdc_changelog(spark, sf_dir)
    deltas = stream_stateful.latest_per_key_stateful(
        stream,
        key_col="c_custkey",
        ts_col="ts",
        payload_cols=("c_name", "c_acctbal", "__op"),
    )
    drained = stream_sinks.run_to_memory(
        deltas, f"reg_stream_cdc_{next(_STREAM_SEQ)}"
    )
    return (
        dedup.latest_per_key(drained, "c_custkey", "ts")
        .filter(F.col("__op") != "d")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "streaming_sessionize",
    _SESSION_ORACLE_BODY
    + """
    , sess2 AS (
      SELECT user_id, first_ts AS session_start, last_ts AS session_end,
             n_events,
             lead(first_ts) OVER (PARTITION BY user_id ORDER BY first_ts)
               AS next_start
      FROM sess)
    SELECT user_id, session_start, session_end, n_events
    FROM sess2
    WHERE next_start IS NOT NULL
       OR session_end + INTERVAL 6 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 2 MINUTE
    """,
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState sessionization):
    emits a session when a later event of the same user closes it, or when
    the event-time timeout (watermark past last_ts + gap) fires. The
    oracle states exactly that emission set: sessions with a successor
    session, plus sessions closed by the final watermark."""
    stream = _replay_events(spark, sf_dir)
    return stream_sinks.run_to_memory(
        stream_stateful.sessionize_stream(
            stream,
            key_col="user_id",
            ts_col="ts",
            gap=_SESSION_GAP,
            watermark_delay=_STREAM_WM,
        ),
        f"reg_stream_sessionize_{next(_STREAM_SEQ)}",
    )


# --------------------------------------------------------------------------
# KSQL runbook parity: the reference's literal statements executed through
# the compat layer (reference: README.md:27-70; ksql/compat.py)
# --------------------------------------------------------------------------

@register(
    "ksql_runbook_hopping",
    """
    WITH hop AS (SELECT unnest(generate_series(0, 4)) AS i),
    ev AS (
      SELECT user_id, ts,
        CASE event_type
          WHEN 'view' THEN 'main_page'
          WHEN 'click' THEN 'products_listing'
          WHEN 'purchase' THEN 'product_page'
          WHEN 'error' THEN 'product_gallery'
          ELSE 'other' END AS event
      FROM events),
    exp AS (
      SELECT e.*,
        make_timestamp((epoch_us(e.ts) // 120000000) * 120000000
                       - h.i * 120000000) AS ws
      FROM ev e CROSS JOIN hop h)
    SELECT user_id,
      strftime(min(ts), '%H:%M:%S') AS window_start,
      strftime(max(ts), '%H:%M:%S') AS window_end,
      CAST(sum(CASE WHEN event = 'main_page' THEN 1 ELSE 0 END) AS BIGINT)
        AS main_page_views,
      CAST(sum(CASE WHEN event = 'products_listing' THEN 1 ELSE 0 END) AS BIGINT)
        AS listing_views,
      CAST(sum(CASE WHEN event = 'product_page' THEN 1 ELSE 0 END) AS BIGINT)
        AS product_views,
      CAST(sum(CASE WHEN event = 'product_gallery' THEN 1 ELSE 0 END) AS BIGINT)
        AS gallery_views
    FROM exp GROUP BY ws, user_id
    """,
)
def q_ksql_runbook_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's hopping-window CTAS (README.md:41-50), executed from
    its LITERAL statement text via the KSQL compat layer — oracle-checked
    against the 5-fold window expansion in DuckDB."""
    runbook.run_runbook(spark, sf_dir)
    return spark.table("events_in_10_minutes_window")


@register("ksql_runbook_predictions", None)  # model scoring: rows-only check
def q_ksql_runbook_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full serving pipeline (README.md:62-70) — rekey,
    TABLE compaction, hopping aggregate, LEFT JOIN on rowkey, predict() —
    from its literal statements. Scoring equivalence with the whole-frame
    operator is asserted in tests/test_ksql_compat.py."""
    ksql = runbook.run_runbook(spark, sf_dir)
    return spark.table("bot_detection_results")


