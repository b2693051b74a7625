"""DISTINCT aggs, percentiles, sketches, time-series, round-2 streaming.

Split from the monolithic registry (round 7, VERDICT r6 #8); the
@register calls run at package import in the original registration
order, so ``queries()`` is unchanged.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _scratch_dir, _t, register  # noqa: F401
from .q04_streamksql import _STREAM_SEQ, _STREAM_WM, _replay_events  # noqa: F401
from .q05_composite import _lang_ngram_oracle  # noqa: F401

# --------------------------------------------------------------------------
# DISTINCT aggregates + HAVING, exact percentiles, approximate sketches
# --------------------------------------------------------------------------

def _langid_report_oracle() -> str:
    """Stitch the lang-ID oracle into the classification-report SQL —
    the full predict → evaluate chain as one statement (the verified
    lang-ID statement rides as a nested subquery; SQL allows a WITH
    inside a derived table)."""
    lang = _lang_ngram_oracle().strip()
    assert lang.startswith("WITH ")
    return f"""
    WITH pairs AS (
      SELECT lang AS label, predicted_lang AS pred FROM ({lang}) q),
    classes AS (
      SELECT label AS class FROM pairs
      UNION SELECT pred FROM pairs),
    nt AS (SELECT label AS class, CAST(count(*) AS DOUBLE) AS n_true_d
           FROM pairs GROUP BY 1),
    np AS (SELECT pred AS class, CAST(count(*) AS DOUBLE) AS n_pred_d
           FROM pairs GROUP BY 1),
    tp AS (SELECT label AS class, CAST(count(*) AS DOUBLE) AS tp_d
           FROM pairs WHERE label = pred GROUP BY 1),
    base AS (
      SELECT c.class,
             coalesce(nt.n_true_d, 0.0) AS n_true_d,
             coalesce(np.n_pred_d, 0.0) AS n_pred_d,
             coalesce(tp.tp_d, 0.0) AS tp_d
      FROM classes c
      LEFT JOIN nt USING (class)
      LEFT JOIN np USING (class)
      LEFT JOIN tp USING (class)),
    m AS (
      SELECT class, n_true_d, n_pred_d, tp_d,
             CASE WHEN n_pred_d > 0 THEN tp_d / n_pred_d ELSE 0.0 END AS p,
             CASE WHEN n_true_d > 0 THEN tp_d / n_true_d ELSE 0.0 END AS r
      FROM base)
    SELECT class, n_true_d, n_pred_d, tp_d,
           round(p, 6) AS precision, round(r, 6) AS recall,
           round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                      ELSE 0.0 END, 6) AS f1
    FROM m
    """


@register("langid_classification_report", _langid_report_oracle())
def q_langid_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation surface (ml/metrics.py classification_report):
    per-class precision/recall/F1 + support for the trigram language-ID
    predictions against the labeled lang column — the predict → evaluate
    chain a serving pipeline runs continuously, as three
    map-side-combined counts joined on the bounded class dimension. The
    oracle stitches the verified lang-ID CTE into the metric arithmetic,
    so the whole chain hash-checks as one statement."""
    from ..ml.metrics import classification_report

    preds = text.lang_id_ngram(_t(spark, sf_dir, "documents"))
    return classification_report(preds, "lang", "predicted_lang")


@register(
    "user_event_type_diversity",
    """
    SELECT user_id,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    HAVING count(*) > 50
    """,
)
def q_user_event_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregate + HAVING (SURVEY.md §2.9): distinct event types
    per active user. count(distinct) expands map-side; HAVING is a
    post-aggregation filter Catalyst keeps above the agg."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count_distinct("event_type").alias("n_types"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("n_events") > 50)
    )


@register(
    "order_value_percentiles",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont` definitionally). At 100 TB swap for
    percentile_approx (the rows-only sketch query below) — same API shape."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB forms: HyperLogLog distinct counts and quantile sketches
    (single pass, bounded memory, mergeable across partitions — what you
    actually run on a petabyte instead of exact distinct/percentile).
    RETIRED from the registry in r13 (VERDICT r12 #7): it sat rows-only
    and never-verdicted since r01, superseded by the exact-oracled sketch
    family (hll_registers_exact / hll_merge / hll_partition_merge,
    quantile_sketch_events). Kept public: the error bound vs exact is
    still pinned in tests/test_relational.py."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("approx_p50_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "corpus_sample_mix",
    """
    WITH ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY lang
        ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
      FROM documents)
    SELECT doc_id, lang, source, n_chars FROM ranked
    WHERE rk <= CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 ELSE 25 END
    """,
)
def q_corpus_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-data mixing): per-lang
    quotas drawn in md5-hash order — pseudo-random but reproducible across
    runs and engines, no RNG in the plan."""
    return text.stratified_sample(
        _t(spark, sf_dir, "documents"),
        "lang",
        {"en": 100, "de": 50},
        id_col="doc_id",
        default_quota=25,
    ).select("doc_id", "lang", "source", "n_chars")


# --------------------------------------------------------------------------
# Time-series surface: multi-resolution rollup + gap-fill (beyond-reference,
# SURVEY.md §2.9 analogs of hypertable continuous aggregates)
# --------------------------------------------------------------------------

@register(
    "token_budget",
    r"""
    WITH per_doc AS (
      SELECT source, lang,
             len(regexp_extract_all(text, '\S+')) AS ws,
             len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS sub
      FROM documents)
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(sub) AS BIGINT) AS subword_tokens,
           round(CAST(sum(sub) AS DOUBLE) / count(*), 4) AS avg_subword_tokens
    FROM per_doc GROUP BY source, lang
    """,
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token budget per (source, lang): whitespace + BPE-ish subword
    token totals (north-star: token counting). All counting is JVM
    regexp_count; the shuffle carries two longs per doc."""
    return text.token_counts(_t(spark, sf_dir, "documents"))


_ROLLUP_GRAIN_SQL = """
      SELECT '{res}' AS resolution,
             date_trunc('{res}', ts) AS bucket_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
             min(value) AS min_value, max(value) AS max_value
      FROM events GROUP BY 2, 3
"""


@register(
    "multi_resolution_rollup",
    " UNION ALL ".join(
        _ROLLUP_GRAIN_SQL.format(res=r) for r in ("minute", "hour", "day")
    ),
)
def q_multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute/hour/day rollup where each coarser grain aggregates the finer
    grain's PARTIALS (sum-of-sums in exact decimal) — one scan feeds all
    three resolutions; the oracle aggregates each grain straight from the
    raw table, so cascade ≡ direct is itself the checked property."""
    return timeseries.multi_resolution_rollup(_t(spark, sf_dir, "events"))


@register(
    "streaming_multi_resolution_rollup",
    " UNION ALL ".join(
        _ROLLUP_GRAIN_SQL.format(res=r) for r in ("minute", "hour", "day")
    ),
)
def q_streaming_multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hypertable continuous-aggregate loop end-to-end: the event
    STREAM continuously maintains the minute-grain partial table (ONE
    complete-mode groupBy — counts/decimal sums additive, min/max
    order-insensitive, so the drained partials equal the batch frame
    exactly), and the hour/day grains are derived from the stored
    partials without re-touching raw events. Chained streaming
    aggregations are unsupported by design — maintaining the finest
    grain continuously and rolling up coarser grains from persisted
    partials IS the production pattern. Same oracle as the batch rollup:
    all three drained resolutions hash-check."""
    stream = _replay_events(spark, sf_dir)
    minute = timeseries.minute_partials(stream)
    drained = stream_sinks.run_to_memory(
        minute, f"rollup_stream_{next(_STREAM_SEQ)}", output_mode="complete"
    )
    return timeseries.rollup_from_minute_partials(drained)


@register(
    "hourly_gap_fill_locf",
    """
    WITH ev AS (SELECT * FROM events WHERE user_id < 50),
    last_pick AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_start, value,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev),
    per_bucket AS (
      SELECT user_id, bucket_start,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
             max(CASE WHEN rn = 1 THEN value END) AS last_obs
      FROM last_pick GROUP BY 1, 2),
    spans AS (
      SELECT user_id, min(date_trunc('hour', ts)) AS mn,
             max(date_trunc('hour', ts)) AS mx
      FROM ev GROUP BY 1),
    scaffold AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
             AS bucket_start
      FROM spans)
    SELECT s.user_id, s.bucket_start,
           coalesce(p.n_events, 0) AS n_events,
           coalesce(p.sum_value, 0.0) AS sum_value,
           last_value(p.last_obs IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.bucket_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
    FROM scaffold s LEFT JOIN per_bucket p
      ON p.user_id = s.user_id AND p.bucket_start = s.bucket_start
    """,
)
def q_hourly_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill for a user cohort: per-key scaffold generated from
    the key's own span (sequence+explode, no calendar table), empty buckets
    zero-filled, last observation carried forward deterministically
    ((ts, event_id) tie-break)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return timeseries.gap_fill_locf(ev)


# --------------------------------------------------------------------------
# Streaming additions (round 2): continuous exact dedup + full-outer
# stream-stream interval join
# --------------------------------------------------------------------------

_CMS_HASH_SQL = "CAST(('0x' || substr(md5({key}), 1, 7))::UBIGINT AS BIGINT)"


def _cms_coef_rows() -> str:
    from ..operators.text import minhash_coeffs
    from ..operators.topk import CMS_DEPTH

    return ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(CMS_DEPTH))
    )


def _streaming_cms_oracle() -> str:
    """DuckDB rebuild of the per-EVENT count-min grid (no per-key
    pre-aggregate here — streaming complete mode supports one aggregation,
    and summing 1 per event reaches the identical additive counters)."""
    from ..operators.text import MINHASH_P
    from ..operators.topk import CMS_WIDTH

    coef_rows = _cms_coef_rows()
    h_sql = _CMS_HASH_SQL.format(key="CAST(user_id AS VARCHAR)")
    return f"""
    WITH hk AS (
      SELECT {h_sql} AS h
      FROM events),
    coef(i, a, b) AS (VALUES {coef_rows})
    SELECT i AS row_i, (a * h + b) % {MINHASH_P} % {CMS_WIDTH} AS col,
           CAST(count(*) AS BIGINT) AS cnt
    FROM hk CROSS JOIN coef
    GROUP BY 1, 2
    """


@register(
    "streaming_hll_registers",
    """
    WITH h AS (
      SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
    b AS (
      SELECT CAST((strpos('0123456789abcdef', hx[1:1]) - 1) * 16
                  + (strpos('0123456789abcdef', hx[2:2]) - 1) AS INT)
               AS bucket,
             hx[3:32] AS rest
      FROM h),
    r AS (
      SELECT bucket, ltrim(rest, '0') AS stripped,
             len(rest) - len(ltrim(rest, '0')) AS nz
      FROM b),
    v AS (
      SELECT bucket,
             CASE WHEN stripped = '' THEN 121
                  ELSE 4 * nz + (4 - CASE
                    WHEN strpos('0123456789abcdef', stripped[1:1]) - 1 >= 8
                      THEN 4
                    WHEN strpos('0123456789abcdef', stripped[1:1]) - 1 >= 4
                      THEN 3
                    WHEN strpos('0123456789abcdef', stripped[1:1]) - 1 >= 2
                      THEN 2
                    ELSE 1 END) + 1
             END AS rho
      FROM r)
    SELECT bucket, CAST(max(rho) AS INT) AS register
    FROM v GROUP BY 1
    """,
)
def q_streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained HyperLogLog: each event contributes its
    (bucket, rho) and ONE complete-mode groupBy keeps the max-register
    table — max is order-insensitive, so the drained streaming registers
    equal the batch sketch EXACTLY, and the oracle rebuilds the same
    nibble-arithmetic registers in DuckDB. The streaming distinct-count
    companion to streaming_cms_cells (frequencies): state is 256
    registers, independent of user cardinality. Shares the single hash
    definition with the batch sketch (topk.hll_hash_cols)."""
    from ..operators.topk import hll_hash_cols

    stream = _replay_events(spark, sf_dir)
    bucket, rho = hll_hash_cols(F.col("user_id"))
    regs = (
        stream.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").cast("int").alias("register"))
    )
    return stream_sinks.run_to_memory(
        regs, f"reg_stream_hll_{next(_STREAM_SEQ)}", output_mode="complete"
    )


@register(
    "streaming_threshold_alert",
    """
    WITH c AS (
      SELECT user_id, ts,
             count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                            RANGE BETWEEN 86399999999 PRECEDING
                                  AND CURRENT ROW) AS cnt
      FROM events),
    a AS (
      SELECT user_id, ts AS alert_ts, CAST(cnt AS BIGINT) AS n_events,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM c WHERE cnt >= 8)
    SELECT user_id, alert_ts, n_events FROM a WHERE rn = 1
    """,
)
def q_streaming_threshold_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful ALERTING operator (applyInPandasWithState,
    streaming/stateful.py): the moment a user's trailing-1-day event
    count first reaches 8, exactly ONE alert row is emitted and the
    key's state collapses to a tombstone — the monitoring state machine
    the reference's bot-detection demo implies but KSQL cannot express
    (no alert-once semantics in a windowed table). The oracle states the
    identical rule as a batch RANGE-frame query — first ts whose
    (t - 1 day, t] count reaches the threshold, peers included — so the
    streamed emission set over the in-order replay hash-checks exactly
    (32 of 150 users alert on this testdata)."""
    stream = _replay_events(spark, sf_dir)
    alerts = stream_stateful.threshold_alert_stream(
        stream, window="1 day", min_events=8
    )
    return stream_sinks.run_to_memory(
        alerts, f"alerts_{next(_STREAM_SEQ)}", output_mode="append"
    )


@register(
    "streaming_events_quality",
    """
    WITH n AS (SELECT count(*) AS total FROM events),
    r AS (
      SELECT 'null_user_id' AS rule,
             count(*) FILTER (WHERE user_id IS NULL) AS viol FROM events
      UNION ALL
      SELECT 'unknown_event_type',
             count(*) FILTER (WHERE event_type NOT IN
               ('click', 'view', 'purchase', 'signup', 'error'))
      FROM events
      UNION ALL
      SELECT 'negative_value',
             count(*) FILTER (WHERE value < 0) FROM events
      UNION ALL
      SELECT 'ts_out_of_range',
             count(*) FILTER (WHERE ts < TIMESTAMP '2020-01-01'
                                 OR ts >= TIMESTAMP '2030-01-01')
      FROM events)
    SELECT r.rule, CAST(r.viol AS DOUBLE) AS n_violations_d,
           round(CAST(r.viol AS DOUBLE) / n.total, 6) AS violation_rate
    FROM r, n
    """,
)
def q_streaming_events_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained data-quality counters: the four row-level
    rules of events_quality_rules as ONE complete-mode streaming
    aggregate (conditional sums are additive and order-free, so the
    drained counter row equals the batch scan exactly — the sketch-twin
    discipline). The duplicate-key rule needs a second keyed aggregate
    (unsupported chained streaming aggs) and stays batch-side; state
    here is five counters, independent of stream length."""
    stream = _replay_events(spark, sf_dir)
    wide = stream.agg(
        F.count(F.lit(1)).cast("double").alias("__total"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("double")
        .alias("null_user_id"),
        F.sum(
            F.when(
                ~F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
                1,
            ).otherwise(0)
        )
        .cast("double")
        .alias("unknown_event_type"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
        .cast("double")
        .alias("negative_value"),
        F.sum(
            F.when(
                (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2030-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        )
        .cast("double")
        .alias("ts_out_of_range"),
    )
    drained = stream_sinks.run_to_memory(
        wide, f"reg_stream_dq_{next(_STREAM_SEQ)}", output_mode="complete"
    )
    rules = ["null_user_id", "unknown_event_type", "negative_value",
             "ts_out_of_range"]
    stacked = None
    for rule in rules:
        one = drained.select(
            F.lit(rule).alias("rule"),
            F.col(rule).alias("n_violations_d"),
            F.round(F.col(rule) / F.col("__total"), 6).alias(
                "violation_rate"
            ),
        )
        stacked = one if stacked is None else stacked.unionByName(one)
    return stacked


@register("streaming_cms_cells", _streaming_cms_oracle())
def q_streaming_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained count-min sketch: the event stream explodes
    into its depth×(row, col) cells and ONE complete-mode groupBy keeps
    the additive counter grid — because CMS counters are order-insensitive
    sums, the drained streaming grid equals the batch grid EXACTLY, which
    the oracle rebuilds in DuckDB. The streaming form of the sketch rollup
    a 100 TB pipeline keeps per hour and merges for any range; state is
    bounded by the d×w grid (4×1024 cells), not the key cardinality —
    the whole point of sketching a stream."""
    from ..operators.topk import CMS_DEPTH, _cms_hash_cols

    stream = _replay_events(spark, sf_dir)
    # SAME hash columns as the batch sketch (topk._cms_hash_cols) — the
    # streaming-equals-batch-grid guarantee depends on one hash definition
    hashed = stream.select(*_cms_hash_cols(F.col("user_id").cast("string")))
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row_i"), F.col(f"__c{i}").alias("col")
                )
                for i in range(CMS_DEPTH)
            ]
        )
    ).alias("cell")
    grid = (
        hashed.select(cells)
        .select("cell.row_i", "cell.col")
        .groupBy("row_i", "col")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return stream_sinks.run_to_memory(
        grid, f"reg_stream_cms_{next(_STREAM_SEQ)}", output_mode="complete"
    )



@register(
    "streaming_dedup_exact",
    """
    SELECT e.* FROM events e
    JOIN (
      SELECT min(event_id) AS event_id FROM events
      GROUP BY md5(concat_ws(chr(31), CAST(user_id AS VARCHAR), event_type, props))
    ) w USING (event_id)
    """,
)
def q_streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup as a continuous aggregate: the content
    fingerprint's min-id winner is a commutative streaming groupBy (state =
    one (digest, id) pair per distinct content, map-side-combined each
    micro-batch), drained in complete mode, then the survivor rows are
    recovered by a batch key join — converging to exactly the batch
    dedup_exact answer, which is the oracle. At 100 TB with unbounded
    streams you'd bound state with dropDuplicatesWithinWatermark (TTL'd
    digests) instead; the complete-mode aggregate is the exact form."""
    stream = _replay_events(spark, sf_dir)
    fp = F.md5(
        F.concat_ws(
            "\x1f",
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.col("props"),
        )
    )
    winners = (
        stream.select(fp.alias("__fp"), "event_id")
        .groupBy("__fp")
        .agg(F.min("event_id").alias("event_id"))
    )
    drained = stream_sinks.run_to_memory(
        winners,
        f"reg_stream_dedup_{next(_STREAM_SEQ)}",
        output_mode="complete",
    ).select("event_id")
    return _t(spark, sf_dir, "events").join(drained, "event_id")


@register(
    "hot_window_events",
    """
    WITH eph AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS n
      FROM events WHERE event_type = 'error' GROUP BY 1),
    stats AS (SELECT sum(n) AS tot, count(*) AS nh FROM eph),
    hot AS (
      SELECT h - INTERVAL 30 MINUTE AS window_start,
             h + INTERVAL 90 MINUTE AS window_end
      FROM eph CROSS JOIN stats
      WHERE n >= 2.0 * (tot / nh))
    SELECT e.event_id, e.event_type, w.window_start, w.window_end
    FROM events e
    JOIN hot w ON e.ts >= w.window_start AND e.ts < w.window_end
    """,
)
def q_hot_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join at scale (SURVEY.md §2.9 theta/range joins):
    attribute every event to each "incident window" — a ±(30/90)-minute
    interval around hours whose error count is ≥ 2× the hourly average (a
    scale-free threshold: integer counts divide exactly on both engines).
    Catalyst alone would plan the interval containment as
    BroadcastNestedLoopJoin; joins.range_bucket_join discretizes to hour
    buckets so it runs as an equi-join + exact filter (plan asserted in
    tests/test_plans.py)."""
    ev = _t(spark, sf_dir, "events")
    eph = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = eph.agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("nh")
    )
    hot = (
        eph.crossJoin(F.broadcast(stats))
        .filter(F.col("n") >= F.lit(2.0) * (F.col("tot") / F.col("nh")))
        .select(
            (F.col("h") - F.expr("INTERVAL 30 MINUTES")).alias("window_start"),
            (F.col("h") + F.expr("INTERVAL 90 MINUTES")).alias("window_end"),
        )
    )
    return joins.range_bucket_join(
        ev.select("event_id", "event_type", "ts"),
        hot,
        ts_col="ts",
        start_col="window_start",
        end_col="window_end",
    ).select("event_id", "event_type", "window_start", "window_end")


_DOCS_ORACLE = "SELECT doc_id, text, lang, source, n_chars FROM documents"


@register("json_source_roundtrip", _DOCS_ORACLE)
def q_json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format breadth (S-family): documents written as JSONL and read back
    with an explicit schema (no inference scan), FAILFAST. The parquet
    table is the oracle, so a hash match proves the round-trip lossless
    — unicode escapes included."""
    from ..sources import formats

    out = formats.documents_via_jsonl(spark, sf_dir, _scratch_dir("fmt_json", sf_dir))
    return out.select("doc_id", "text", "lang", "source", "n_chars")


@register("csv_source_roundtrip", _DOCS_ORACLE)
def q_csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format breadth (S-family): documents through quoteAll CSV and a
    multiLine schema'd read — embedded newlines/quotes in document text
    survive; FAILFAST surfaces malformed rows instead of nulling them."""
    from ..sources import formats

    out = formats.documents_via_csv(spark, sf_dir, _scratch_dir("fmt_csv", sf_dir))
    return out.select("doc_id", "text", "lang", "source", "n_chars")


@register(
    "scalar_function_suite",
    r"""
    SELECT event_id,
           upper(event_type) AS et_upper,
           concat(coalesce(event_type, '?'), ':',
                  coalesce(CAST(user_id AS VARCHAR), '?')) AS et_key,
           concat_ws('|', event_type, CAST(event_id AS VARCHAR)) AS et_ws,
           substring(event_type, 2, 3) AS et_sub,
           length(event_type) AS et_len,
           replace(event_type, 'e', '3') AS et_leet,
           lpad(event_type, 10, '.') AS et_lpad,
           reverse(event_type) AS et_rev,
           strpos(event_type, 'i') AS et_pos,
           abs(value - 50.0) AS v_abs,
           CAST(ceil(value) AS BIGINT) AS v_ceil,
           CAST(floor(value) AS BIGINT) AS v_floor,
           round(value, 1) AS v_round1,
           sqrt(greatest(value, 0.0)) AS v_sqrt,
           CAST(sign(value - 50.0) AS INT) AS v_sign,
           greatest(value, 10.0) AS v_hi,
           least(value, 90.0) AS v_lo,
           CAST(year(ts) AS INT) AS ts_year,
           CAST(month(ts) AS INT) AS ts_month,
           CAST(day(ts) AS INT) AS ts_day,
           CAST(hour(ts) AS INT) AS ts_hour,
           date_trunc('hour', ts) AS ts_hour_trunc,
           strftime(ts, '%Y-%m-%d') AS ts_date_str,
           coalesce(nullif(event_type, 'view'), '<viewed>') AS et_nullif,
           md5(event_type) AS et_md5,
           sha256(event_type) AS et_sha256
    FROM events
    """,
)
def q_scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function library parity in one pass (SURVEY.md §2.9 'string/
    math/JSON scalar library' — the reference invokes only two scalars;
    a complete engine carries the whole library): string ops, math ops,
    date parts/trunc/format, null handling (coalesce/nullif), and
    cryptographic hashes, each chosen for identical Spark/DuckDB
    semantics (1-based substring/instr, IEEE sqrt, epoch-free date
    parts). All narrow codegen projections — zero shuffle."""
    ev = _t(spark, sf_dir, "events")
    et, v = F.col("event_type"), F.col("value")
    return ev.select(
        "event_id",
        F.upper(et).alias("et_upper"),
        F.concat(
            F.coalesce(et, F.lit("?")),
            F.lit(":"),
            F.coalesce(F.col("user_id").cast("string"), F.lit("?")),
        ).alias("et_key"),
        F.concat_ws("|", et, F.col("event_id").cast("string")).alias("et_ws"),
        F.substring(et, 2, 3).alias("et_sub"),
        F.length(et).alias("et_len"),
        F.replace(et, F.lit("e"), F.lit("3")).alias("et_leet"),
        F.lpad(et, 10, ".").alias("et_lpad"),
        F.reverse(et).alias("et_rev"),
        F.instr(et, "i").alias("et_pos"),
        F.abs(v - 50.0).alias("v_abs"),
        F.ceil(v).cast("long").alias("v_ceil"),
        F.floor(v).cast("long").alias("v_floor"),
        F.round(v, 1).alias("v_round1"),
        F.sqrt(F.greatest(v, F.lit(0.0))).alias("v_sqrt"),
        F.signum(v - 50.0).cast("int").alias("v_sign"),
        F.greatest(v, F.lit(10.0)).alias("v_hi"),
        F.least(v, F.lit(90.0)).alias("v_lo"),
        F.year("ts").cast("int").alias("ts_year"),
        F.month("ts").cast("int").alias("ts_month"),
        F.dayofmonth("ts").cast("int").alias("ts_day"),
        F.hour("ts").cast("int").alias("ts_hour"),
        F.date_trunc("hour", "ts").alias("ts_hour_trunc"),
        F.date_format("ts", "yyyy-MM-dd").alias("ts_date_str"),
        F.coalesce(F.nullif(et, F.lit("view")), F.lit("<viewed>")).alias(
            "et_nullif"
        ),
        F.md5(et).alias("et_md5"),
        F.sha2(et, 256).alias("et_sha256"),
    )


@register(
    "feature_drift",
    """
    WITH rng AS (
      SELECT min(ts) AS tlo, max(ts) AS thi,
             min(value) AS vlo, max(value) AS vhi
      FROM events),
    binned AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) * 2 <= epoch_us(tlo) + epoch_us(thi)
                  THEN 'base' ELSE 'current' END AS period,
             CASE WHEN vhi > vlo
                  THEN least(CAST(floor((value - vlo) / (vhi - vlo) * 10)
                                  AS BIGINT), 9)
                  ELSE 0 END AS bin
      FROM events CROSS JOIN rng),
    cells AS (
      SELECT event_type, bin,
             CAST(sum(CASE WHEN period = 'base' THEN 1 ELSE 0 END) AS BIGINT)
               AS base_n,
             CAST(sum(CASE WHEN period = 'current' THEN 1 ELSE 0 END) AS BIGINT)
               AS curr_n
      FROM binned GROUP BY 1, 2),
    tot AS (
      SELECT event_type,
             sum(base_n) AS base_tot, sum(curr_n) AS curr_tot
      FROM cells GROUP BY 1),
    shares AS (
      SELECT c.event_type, c.bin, c.base_n, c.curr_n,
             CASE WHEN base_tot > 0
                  THEN CAST(c.base_n AS DOUBLE) / base_tot ELSE 0.0 END AS p,
             CASE WHEN curr_tot > 0
                  THEN CAST(c.curr_n AS DOUBLE) / curr_tot ELSE 0.0 END AS q
      FROM cells c JOIN tot USING (event_type))
    SELECT event_type, bin, base_n, curr_n,
           round(p, 6) AS base_share, round(q, 6) AS curr_share,
           round(sum((p - q) * (p - q) / ((p + q) / 2))
                   OVER (PARTITION BY event_type), 6) AS drift_chi2
    FROM shares
    """,
)
def q_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-drift monitoring (the model-observability step of the
    reference's MLOps loop): split events at the time midpoint, bin the
    feature into 10 fixed-width buckets over its global range, and
    compare the base vs current distributions per event type with a
    symmetrized chi-square statistic — log-free (unlike PSI) so every
    term is IEEE-exact cross-engine; only the 10-term sum is rounded.

    Scale shape: one scan; the range scalars broadcast from a one-row
    aggregate; ONE (type, bin) groupBy with conditional partial sums
    carries 2 longs per cell; shares and the drift statistic ride on a
    window over the tiny cell frame, never the raw events."""
    ev = _t(spark, sf_dir, "events")
    rng = ev.agg(
        F.min("ts").alias("tlo"), F.max("ts").alias("thi"),
        F.min("value").alias("vlo"), F.max("value").alias("vhi"),
    )
    binned = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.when(
            F.unix_micros("ts") * 2
            <= F.unix_micros("tlo") + F.unix_micros("thi"),
            F.lit("base"),
        )
        .otherwise(F.lit("current"))
        .alias("period"),
        # vhi == vlo guard: Spark 0/0 is NULL while DuckDB yields NaN
        # (and errors casting floor(nan)) — an all-equal-values column
        # must not diverge the engines
        F.when(
            F.col("vhi") > F.col("vlo"),
            F.least(
                F.floor(
                    (F.col("value") - F.col("vlo"))
                    / (F.col("vhi") - F.col("vlo"))
                    * 10
                ).cast("long"),
                F.lit(9),
            ),
        )
        .otherwise(F.lit(0))
        .alias("bin"),
    )
    cells = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("period") == "base", 1).otherwise(0))
        .cast("long")
        .alias("base_n"),
        F.sum(F.when(F.col("period") == "current", 1).otherwise(0))
        .cast("long")
        .alias("curr_n"),
    )
    w_t = Window.partitionBy("event_type")
    shares = cells.select(
        "event_type",
        "bin",
        "base_n",
        "curr_n",
        # zero-total guard: one-sided event types (all rows in one time
        # half) are NULL-p in Spark but NaN-p in DuckDB without this
        F.when(
            F.sum("base_n").over(w_t) > 0,
            F.col("base_n").cast("double") / F.sum("base_n").over(w_t),
        )
        .otherwise(F.lit(0.0))
        .alias("p"),
        F.when(
            F.sum("curr_n").over(w_t) > 0,
            F.col("curr_n").cast("double") / F.sum("curr_n").over(w_t),
        )
        .otherwise(F.lit(0.0))
        .alias("q"),
    )
    contrib = (F.col("p") - F.col("q")) * (F.col("p") - F.col("q")) / (
        (F.col("p") + F.col("q")) / 2
    )
    return shares.select(
        "event_type",
        "bin",
        "base_n",
        "curr_n",
        F.round("p", 6).alias("base_share"),
        F.round("q", 6).alias("curr_share"),
        F.round(F.sum(contrib).over(w_t), 6).alias("drift_chi2"),
    )


@register(
    "value_outliers_zscore",
    """
    WITH s AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS sm,
             sum(CAST(value AS DECIMAL(18,6))
                 * CAST(value AS DECIMAL(18,6))) AS ss
      FROM events GROUP BY 1),
    m AS (
      SELECT event_type,
             CAST(sm AS DOUBLE) / n AS mean,
             sqrt(CAST(ss AS DOUBLE) / n
                  - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n))
               AS sd
      FROM s)
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - m.mean) / m.sd, 6) AS z_score
    FROM events e JOIN m USING (event_type)
    WHERE m.sd > 0
      AND abs(round((e.value - m.mean) / m.sd, 6)) >= 3.0
    """,
)
def q_value_outliers_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key z-score anomaly screen (operators/timeseries.py): moments
    accumulate in exact DECIMAL (order-free on any engine), mean/variance
    derive through one fixed double expression the oracle restates
    verbatim, and the rounded-z threshold keeps the boundary decision
    identical — the flagged outlier set (188 rows at sf0.01) hash-checks
    exactly. One scan + broadcast moment join; the corpus never
    shuffles."""
    return timeseries.zscore_outliers(_t(spark, sf_dir, "events"))


@register(
    "events_profile",
    """
    SELECT 'event_id' AS col_name, count(*) AS n_rows,
           CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(min(event_id) AS VARCHAR) AS min_str,
           CAST(max(event_id) AS VARCHAR) AS max_str
    FROM events
    UNION ALL
    SELECT 'user_id', count(*),
           CAST(count(*) - count(user_id) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'event_type', count(*),
           CAST(count(*) - count(event_type) AS BIGINT),
           CAST(count(DISTINCT event_type) AS BIGINT),
           min(event_type), max(event_type)
    FROM events
    UNION ALL
    SELECT 'value', count(*),
           CAST(count(*) - count(value) AS BIGINT),
           CAST(count(DISTINCT value) AS BIGINT),
           printf('%.6f', min(value)),
           printf('%.6f', max(value))
    FROM events
    """,
)
def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass (the quality gate a pipeline runs before
    training on a new drop): per-column row/null/distinct counts and
    min/max, computed in ONE scan — every column's aggregates are
    expressions in a single agg (multi-aggregate pushdown, map-side
    partials), then unpivoted to (column, metrics) rows driver-side-free.
    min/max stringified so the profile has one schema across types."""
    ev = _t(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    specs = []
    for c, fmt in (
        ("event_id", None),
        ("user_id", None),
        ("event_type", None),
        ("value", 6),
    ):
        col = F.col(c)
        mn, mx = F.min(col), F.max(col)
        if fmt is not None:
            # fixed-decimal printf on BOTH sides: raw double->string
            # formatting diverges between engines outside [1e-3, 1e7)
            # (scientific notation) and on round-half ties
            mn = F.format_string(f"%.{fmt}f", mn)
            mx = F.format_string(f"%.{fmt}f", mx)
        specs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                n.alias("n_rows"),
                (n - F.count(col)).cast("long").alias("n_nulls"),
                F.count_distinct(col).cast("long").alias("n_distinct"),
                mn.cast("string").alias("min_str"),
                mx.cast("string").alias("max_str"),
            ).alias(f"__{c}")
        )
    one = ev.agg(*specs)
    return one.select(
        F.explode(F.array(*[f"__{c}" for c in ("event_id", "user_id", "event_type", "value")])).alias("m")
    ).select("m.*")


def _cms_oracle() -> str:
    """DuckDB oracle rebuilding the IDENTICAL count-min sketch (same md5
    digest, same affine row hashes from text.minhash_coeffs, same grid) —
    the comparison is exact, not tolerance-based."""
    from ..operators.text import MINHASH_P
    from ..operators.topk import CMS_WIDTH

    coef_rows = _cms_coef_rows()
    h_sql = _CMS_HASH_SQL.format(key="k")
    return f"""
    WITH per_key AS (
      SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n
      FROM events GROUP BY 1),
    hk AS (
      SELECT k, n, {h_sql} AS h
      FROM per_key),
    coef(i, a, b) AS (VALUES {coef_rows}),
    keyed AS (
      SELECT k, n, i, (a * h + b) % {MINHASH_P} % {CMS_WIDTH} AS col
      FROM hk CROSS JOIN coef),
    cells AS (
      SELECT i, col, sum(n) AS cnt FROM keyed GROUP BY 1, 2)
    SELECT k.k AS key, CAST(k.n AS BIGINT) AS exact_n,
           CAST(min(c.cnt) AS BIGINT) AS cms_est
    FROM keyed k JOIN cells c ON k.i = c.i AND k.col = c.col
    WHERE k.n >= 70
    GROUP BY 1, 2
    """


@register("cms_heavy_hitters", _cms_oracle())
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch estimates for the heavy keys — the mergeable
    approximate companion to the exact heavy_hitters operator: additive
    d×w counter grid (per-day grids sum cell-wise to exactly the
    single-pass grid — pinned in tests), deterministic md5/affine row
    hashes, estimates = min over rows. The oracle rebuilds the identical
    sketch in DuckDB, so even the approximation error is hash-checked."""
    from ..operators import topk as topk_mod

    return topk_mod.cms_estimates(
        _t(spark, sf_dir, "events").select("user_id"), "user_id", min_count=70
    )


def _zorder_oracle() -> str:
    """DuckDB mirror of the Morton interleave (same shift/mask terms,
    generated from the same bit loop)."""
    return """
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             epoch_us(l_shipdate) AS t, l_partkey AS p
      FROM lineitem),
    rng AS (SELECT min(t) AS tlo, max(t) AS thi,
                   min(p) AS plo, max(p) AS phi FROM li),
    sc AS (
      SELECT l_orderkey, l_linenumber,
        least(CAST(floor(least(greatest(
            (CAST(t AS DOUBLE) - tlo) / (thi - tlo), 0.0), 1.0) * 65536)
          AS BIGINT), 65535) AS xa,
        least(CAST(floor(least(greatest(
            (CAST(p AS DOUBLE) - plo) / (phi - plo), 0.0), 1.0) * 65536)
          AS BIGINT), 65535) AS xb
      FROM li CROSS JOIN rng)
    SELECT l_orderkey, l_linenumber,
           (((xa >> 0) & 1) << 1) + (((xb >> 0) & 1) << 0)
             + (((xa >> 1) & 1) << 3) + (((xb >> 1) & 1) << 2)
             + (((xa >> 2) & 1) << 5) + (((xb >> 2) & 1) << 4)
             + (((xa >> 3) & 1) << 7) + (((xb >> 3) & 1) << 6)
             + (((xa >> 4) & 1) << 9) + (((xb >> 4) & 1) << 8)
             + (((xa >> 5) & 1) << 11) + (((xb >> 5) & 1) << 10)
             + (((xa >> 6) & 1) << 13) + (((xb >> 6) & 1) << 12)
             + (((xa >> 7) & 1) << 15) + (((xb >> 7) & 1) << 14)
             + (((xa >> 8) & 1) << 17) + (((xb >> 8) & 1) << 16)
             + (((xa >> 9) & 1) << 19) + (((xb >> 9) & 1) << 18)
             + (((xa >> 10) & 1) << 21) + (((xb >> 10) & 1) << 20)
             + (((xa >> 11) & 1) << 23) + (((xb >> 11) & 1) << 22)
             + (((xa >> 12) & 1) << 25) + (((xb >> 12) & 1) << 24)
             + (((xa >> 13) & 1) << 27) + (((xb >> 13) & 1) << 26)
             + (((xa >> 14) & 1) << 29) + (((xb >> 14) & 1) << 28)
             + (((xa >> 15) & 1) << 31) + (((xb >> 15) & 1) << 30)
           AS zindex
    FROM sc
    """


@register("zorder_layout", _zorder_oracle())
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (ship time, part key) — sort by
    zindex before writing and min/max file stats prune scans filtered on
    EITHER dimension (lexicographic sorts prune only the leading column).
    Bounds are exact integer min/max aggregates broadcast from a one-row
    frame, so the index is deterministic and the DuckDB oracle rebuilds
    it bit-for-bit. Locality is pinned quantitatively in
    tests/test_plans.py (block spread vs a single-column sort)."""
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
    return bucketing.zorder_index(
        both, F.col("t"), F.col("p"),
        a_min=F.col("tlo"), a_max=F.col("thi"),
        b_min=F.col("plo"), b_max=F.col("phi"),
    ).select("l_orderkey", "l_linenumber", "zindex")


def _pii_oracle(where: str = "") -> str:
    """DuckDB oracle for the PII scrub projection, composed from the SAME
    regex constants the Spark operator uses (text.PII_*) — one source of
    truth, so a pattern tweak cannot silently diverge the two engines."""
    return f"""
    WITH s AS (
      SELECT doc_id,
        len(regexp_extract_all(text, '{text.PII_EMAIL}')) AS n_emails,
        len(regexp_extract_all(text, '{text.PII_IPV4}')) AS n_ipv4,
        len(regexp_extract_all(text, '{text.PII_PHONE}')) AS n_phones,
        regexp_replace(
          regexp_replace(
            regexp_replace(text, '{text.PII_EMAIL}', '<PII>', 'g'),
            '{text.PII_IPV4}', '<PII>', 'g'),
          '{text.PII_PHONE}', '<PII>', 'g') AS scrubbed
      FROM documents{where})
    SELECT doc_id,
           CAST(n_emails AS INT) AS n_emails,
           CAST(n_ipv4 AS INT) AS n_ipv4,
           CAST(n_phones AS INT) AS n_phones,
           CAST(length(scrubbed) AS BIGINT) AS scrubbed_len,
           md5(scrubbed) AS scrubbed_md5
    FROM s
    """


def _replay_documents(spark: SparkSession, sf_dir: str):
    """Sharded file-replay stream over the documents table (doc_id order),
    memoized per sf_dir like _replay_events."""
    d = _scratch_dir(
        "replay_docs",
        sf_dir,
        lambda d: stream_source.shard_table_to_dir(
            _t(spark, sf_dir, "documents"), d, num_shards=4, order_col="doc_id"
        ),
    )
    return stream_source.stream_parquet_dir(spark, d, max_files_per_trigger=2)


@register(
    "streaming_corpus_ingest",
    _pii_oracle(" WHERE lang = 'en' AND n_chars >= 200"),
)
def q_streaming_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-ingest pipeline: documents replayed as a file
    stream, then quality-gated (lang + length) and PII-scrubbed with the
    SAME narrow JVM transforms as the batch operator — the continuous
    form of corpus cleaning (new documents scrub as they arrive, no
    state, no watermark needed). Because every stage is stateless, the
    append-mode emission set equals the batch answer EXACTLY, so the
    batch SQL is the oracle — the strongest check a streaming query can
    carry."""
    stream = _replay_documents(spark, sf_dir)
    gated = stream.filter((F.col("lang") == "en") & (F.col("n_chars") >= 200))
    cleaned = text.pii_scrub(gated)
    return stream_sinks.run_to_memory(
        cleaned,
        f"reg_stream_corpus_{next(_STREAM_SEQ)}",
        output_mode="append",
    )


@register(
    "streaming_interval_join_full",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
    v AS (
      SELECT event_id AS view_id, user_id, ts AS view_ts, value AS view_value
      FROM events WHERE event_type = 'view'),
    wm AS (
      SELECT least(date_trunc('milliseconds', (SELECT max(purchase_ts) FROM p)),
                   date_trunc('milliseconds', (SELECT max(view_ts) FROM v)))
             - INTERVAL 2 MINUTE AS w),
    m AS (
      SELECT p.user_id, CAST(purchase_id AS DOUBLE) AS purchase_id,
             purchase_ts, CAST(view_id AS DOUBLE) AS view_id,
             view_ts, view_value
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.view_ts >= p.purchase_ts - INTERVAL 1 DAY
       AND v.view_ts <= p.purchase_ts)
    SELECT * FROM m
    UNION ALL
    SELECT p.user_id, CAST(purchase_id AS DOUBLE), purchase_ts,
           CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
    FROM p
    WHERE purchase_id NOT IN (SELECT CAST(purchase_id AS BIGINT) FROM m)
      AND purchase_ts < (SELECT w FROM wm)
    UNION ALL
    SELECT v.user_id, CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP),
           CAST(view_id AS DOUBLE), view_ts, view_value
    FROM v
    WHERE view_id NOT IN (SELECT CAST(view_id AS BIGINT) FROM m)
      AND view_ts + INTERVAL 1 DAY < (SELECT w FROM wm)
    """,
)
def q_streaming_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream FULL OUTER interval join: both sides' unmatched rows
    NULL-pad on their own state eviction — left when the watermark passes
    the row's ts, right when it passes ts + lookback (the last left ts it
    could still match). The oracle states both watermark-defined emission
    sets; nullable ids are DOUBLE on both sides (bridge rule)."""
    stream = _replay_events(spark, sf_dir)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").cast("double").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    views = stream.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").cast("double").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    joined = stream_queries.interval_join_stream(
        purchases,
        views,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="view_ts",
        lookback="1 day",
        watermark_delay=_STREAM_WM,
        how="full_outer",
    )
    return stream_sinks.run_to_memory(
        joined, f"reg_stream_ivjf_{next(_STREAM_SEQ)}"
    )


