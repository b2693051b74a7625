"""Time-series operators: multi-resolution rollups and gap-filling.

The reference's windowed tables (reference: README.md:41-50) keep ONE
resolution per query; a metrics/hypertable workload materializes several
(minute → hour → day). These operators express that Spark-first:

- ``multi_resolution_rollup`` builds the coarser grains FROM the finer
  partials (sum-of-sums, min-of-mins), not from the raw table — one scan
  of the events feeds every resolution, and Catalyst's ReuseExchange
  dedups the shared minute-aggregate subplan across the union branches.
  At 100 TB this is the difference between one pass and three.
- ``gap_fill_locf`` densifies a sparse per-key series onto a regular
  bucket scaffold (``sequence`` + ``explode`` — generated, not joined
  from a calendar table) and forward-fills the last observation
  (``last(ignorenulls)`` over an ordered window). The scaffold is
  generated per key from its own [min, max] span, so no key pays for
  another key's history.

Cross-engine exactness: double sums are NOT associative, and the cascade
re-orders additions vs a direct group-by — so sums run in DECIMAL(18,6)
(exact, associative) and only the final value casts back to DOUBLE. The
DuckDB oracles aggregate straight from the raw table; the decimal path is
what makes cascade ≡ direct bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import sizing

__all__ = [
    "multi_resolution_rollup",
    "minute_partials",
    "rollup_from_minute_partials",
    "gap_fill_locf",
    "zscore_outliers",
    "mad_outliers",
    "cusum_changepoints",
    "autocorrelation",
]

_DEC = "decimal(18,6)"


def minute_partials(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """The finest-grain partial table (minute, key) -> (count, decimal
    sum, min, max). ALL rollup state derives from this frame; it is the
    thing a hypertable materializes continuously — batch (one groupBy)
    or streaming (the identical aggregate in complete mode: counts/sums
    additive, min/max order-insensitive, so drained == batch exactly)."""
    ts, val = F.col(ts_col), F.col(value_col).cast(_DEC)
    return events.groupBy(
        F.date_trunc("minute", ts).alias("bucket_start"), key_col
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(val).alias("_sum"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def rollup_from_minute_partials(minute: DataFrame, *, key_col: str = "event_type") -> DataFrame:
    """Coarsen stored minute partials into the hour/day grains and union
    the three resolutions — never re-touching raw events (the 100 TB
    rollup contract: coarse grains are derived from persisted partials)."""

    def _coarsen(finer: DataFrame, grain: str) -> DataFrame:
        return finer.groupBy(
            F.date_trunc(grain, F.col("bucket_start")).alias("bucket_start"),
            key_col,
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("_sum").alias("_sum"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )

    hour = _coarsen(minute, "hour")
    day = _coarsen(hour, "day")

    def _finalize(df: DataFrame, resolution: str) -> DataFrame:
        return df.select(
            F.lit(resolution).alias("resolution"),
            "bucket_start",
            key_col,
            "n_events",
            F.col("_sum").cast("double").alias("sum_value"),
            "min_value",
            "max_value",
        )

    return (
        _finalize(minute, "minute")
        .unionAll(_finalize(hour, "hour"))
        .unionAll(_finalize(day, "day"))
    )


def multi_resolution_rollup(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Minute/hour/day rollup of (count, sum, min, max) per key, coarser
    grains aggregated from the finer grain's partials. Output columns:
    resolution, bucket_start, <key>, n_events, sum_value, min_value,
    max_value."""
    return rollup_from_minute_partials(
        minute_partials(
            events, ts_col=ts_col, key_col=key_col, value_col=value_col
        ),
        key_col=key_col,
    )


def gap_fill_locf(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    order_col: str = "event_id",
    grain: str = "hour",
) -> DataFrame:
    """Densify each key's series onto a regular ``grain`` scaffold over its
    own [min, max] bucket span; empty buckets get n_events=0 and the
    last-observed value carried forward (LOCF). ``order_col`` breaks
    within-bucket ties so "last observation" is deterministic.

    Output: <key>, bucket_start, n_events, sum_value, locf_value."""
    ts = F.col(ts_col)
    bucket = F.date_trunc(grain, ts)

    per_bucket = events.groupBy(
        F.col(key_col), bucket.alias("bucket_start")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col(value_col).cast(_DEC)).cast("double").alias("sum_value"),
        F.max_by(
            F.col(value_col), F.struct(ts, F.col(order_col))
        ).alias("_last_obs"),
    )

    scaffold = (
        events.groupBy(key_col)
        .agg(
            F.min(bucket).alias("_mn"),
            F.max(bucket).alias("_mx"),
        )
        .select(
            key_col,
            F.explode(
                F.expr(f"sequence(_mn, _mx, interval 1 {grain})")
            ).alias("bucket_start"),
        )
    )

    filled = scaffold.join(per_bucket, [key_col, "bucket_start"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        key_col,
        "bucket_start",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        F.last("_last_obs", ignorenulls=True).over(w).alias("locf_value"),
    )


def zscore_outliers(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    threshold: float = 3.0,
) -> DataFrame:
    """Per-key z-score outlier flags — the numeric anomaly screen of a
    data-quality pipeline — from EXACT decimal moments: per-key count,
    sum, and sum-of-squares accumulate in DECIMAL (the inputs carry a
    fixed decimal scale, so the partials are exact in any order, on any
    engine), and mean/variance derive in double through ONE fixed
    expression shape (var = ss/n - mean*mean) that DuckDB restates
    verbatim — so the flagged set and each rounded z hash-check exactly.

    Shape: one scan feeds the tiny per-key moment table (map-side
    combined), which broadcast-joins back onto the events — the corpus
    never shuffles. Rounded-z thresholding keeps the boundary decision
    identical cross-engine.

    Zero-variance keys produce NO outlier rows: sd = 0 would make
    z = 0/0 = NaN, and both Spark and DuckDB order NaN above every
    double, so without the ``__sd > 0`` guard a constant-valued key —
    the least anomalous data possible — would flag every row (ADVICE
    r5). The guard is mirrored in the DuckDB oracle.

    Input-domain contract (r13 events poison sweep): values must fit
    DECIMAL(18,6) — |value| < 1e12. The width is NOT widenable for
    free: (18,6)x(18,6) products land at (37,12), the largest square
    that stays inside Spark's 38-digit cap without precision loss.
    Out-of-range values RAISE on both engines (Spark ANSI decimal
    overflow, DuckDB conversion error) — a loud, symmetric failure
    rather than a silent cross-engine divergence."""
    v = F.col(value_col).cast(_DEC)
    stats = (
        events.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(v).alias("__s"),
            F.sum(v * v).alias("__ss"),
        )
        .withColumn("__mean", F.col("__s").cast("double") / F.col("__n"))
        .withColumn(
            "__sd",
            F.sqrt(
                F.col("__ss").cast("double") / F.col("__n")
                - F.col("__mean") * F.col("__mean")
            ),
        )
        .filter(F.col("__sd") > 0)
        .select(key_col, "__mean", "__sd")
    )
    z = F.round((F.col(value_col) - F.col("__mean")) / F.col("__sd"), 6)
    return (
        events.join(F.broadcast(stats), key_col)
        .withColumn("z_score", z)
        .filter(F.abs(F.col("z_score")) >= threshold)
        .select(id_col, key_col, value_col, "z_score")
    )


def mad_outliers(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    threshold: float = 3.0,
) -> DataFrame:
    """Per-key ROBUST outlier screen via the median absolute deviation —
    the companion to ``zscore_outliers`` for series whose moments are
    themselves polluted by the outliers being hunted (a 0.1% tail of
    broken values can double a standard deviation but cannot move a
    median). Flags rows with |x - med| > threshold * 1.4826 * MAD
    (1.4826 = the consistency constant making MAD estimate sigma under
    normality).

    Two passes over the data (median, then median-of-deviations), each a
    per-key exact interpolated ``percentile`` aggregate — the same
    documented contract as order_value_percentiles: exact here, swap for
    ``percentile_approx`` at 100 TB with the identical plan shape. The
    two tiny per-key stats frames broadcast back onto the events; the
    corpus itself never shuffles.

    Cross-engine boundary discipline: med and MAD are rounded to 6 dp
    BEFORE the threshold comparison (and emitted rounded), so the
    flagged set depends only on 6-dp-stable quantities — a last-ulp
    interpolation difference between engines cannot flip a row in or
    out. The emitted robust_z is one double division of those stable
    inputs (no further rounding needed)."""
    med_stats = events.groupBy(key_col).agg(
        F.round(F.expr(f"percentile({value_col}, 0.5)"), 6).alias("med")
    )
    with_med = events.join(F.broadcast(med_stats), key_col)
    mad_stats = (
        with_med.withColumn("__dev", F.abs(F.col(value_col) - F.col("med")))
        .groupBy(key_col)
        .agg(F.round(F.expr("percentile(__dev, 0.5)"), 6).alias("mad"))
    )
    flagged = (
        with_med.join(F.broadcast(mad_stats), key_col)
        .withColumn("__dev", F.abs(F.col(value_col) - F.col("med")))
        .filter(
            (F.col("mad") > 0)
            & (F.col("__dev") > threshold * 1.4826 * F.col("mad"))
        )
    )
    return flagged.select(
        id_col,
        key_col,
        value_col,
        "med",
        "mad",
        (F.col("__dev") / (1.4826 * F.col("mad"))).alias("robust_z"),
    )


def cusum_changepoints(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key CUSUM changepoint locator over the daily count series:
    the observed day with the largest absolute cumulative deviation from
    the key's mean daily rate — the classic level-shift detector.

    Integer-exact throughout: with D observed days and total count T,
    the deviation of day i is scaled to cnt_i * D - T (x D keeps it a
    BIGINT; the running sum ends at exactly 0), so the argmax day and
    the peak statistic are order-independent integers on any engine.

    Shape: the corpus collapses to one row per (key, day) in a single
    map-side-combined aggregation; every window below runs on that
    calendar-bounded frame, partitioned BY KEY (rows per partition =
    observed days) — no partition-less window, no corpus-sized state.
    The argmax row is selected with a deterministic (|cusum| desc, day
    asc) row_number per key."""
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    daily = events.groupBy(F.col(key_col), day).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wk = Window.partitionBy(key_col)
    wcum = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = (
        daily.withColumn("__d", F.count(F.lit(1)).over(wk))
        .withColumn("__t", F.sum("cnt").over(wk))
        .withColumn(
            "cusum", F.sum(F.col("cnt") * F.col("__d") - F.col("__t")).over(wcum)
        )
    )
    wpick = Window.partitionBy(key_col).orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wpick))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(key_col),
            F.col("day").alias("change_day"),
            F.col("cusum").cast("double").alias("cusum_d"),
            F.col("__d").cast("double").alias("n_days_d"),
            F.col("__t").cast("double").alias("total_d"),
        )
    )


def autocorrelation(
    series: DataFrame,
    *,
    t_col: str = "t",
    x_col: str = "x",
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation of an integer-valued regular series at
    lags 1..max_lag, via the lag-pair Pearson form computed from six
    exact BIGINT sums per lag (n, Σa, Σb, Σab, Σa², Σb²) — the only
    double arithmetic is the single final expression
    (n·Σab − Σa·Σb) / (√(n·Σa²−Σa²̂)·√(n·Σb²−Σb²̂)), identical
    correctly-rounded ops on both engines, so values hash-check with no
    round() anywhere.

    The caller pre-scales x so that n·Σx² stays under 2^63 (the revenue
    query feeds kilodollar units); lift the six sums to DECIMAL(38,0) /
    HUGEINT past that — same plan. The series frame is calendar-bounded
    (one row per time bucket), so the lag join broadcasts one copy
    against the lag dimension: O(D·L) rows, no corpus shuffle."""
    spark = series.sparkSession
    lag_dim = spark.range(1, max_lag + 1).select(F.col("id").alias("lag"))
    a = series.select(F.col(t_col).alias("__ta"), F.col(x_col).alias("__xa"))
    b = series.select(F.col(t_col).alias("__tb"), F.col(x_col).alias("__xb"))
    pairs = a.crossJoin(F.broadcast(lag_dim)).join(
        F.broadcast(b), F.col("__tb") == F.col("__ta") + F.col("lag")
    )
    g = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__xa").alias("sa"),
        F.sum("__xb").alias("sb"),
        F.sum(F.col("__xa") * F.col("__xb")).alias("sab"),
        F.sum(F.col("__xa") * F.col("__xa")).alias("saa"),
        F.sum(F.col("__xb") * F.col("__xb")).alias("sbb"),
    )
    dena = (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    denb = (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    acf = F.when(
        (dena > 0) & (denb > 0), num / (F.sqrt(dena) * F.sqrt(denb))
    ).otherwise(F.lit(0.0))
    return g.select(
        F.col("lag").cast("double").alias("lag_d"),
        F.col("n").cast("double").alias("n_d"),
        acf.alias("acf"),
    )


# lcm(1..36): every interval length a month-bounded daily series can
# produce divides it EXACTLY, so scaling interval means by ISO_LCM turns
# rational mean comparisons into exact integer comparisons.
ISO_LCM = 144403552893600


def isotonic_daily_fit(
    ev: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    scale: int = 10**6,
) -> DataFrame:
    """Exact isotonic (monotone non-decreasing) regression of the daily
    value series via the minimax identity
    ``iso_t = max_{i<=t} min_{j>=t} mean(y_i..y_j)`` — the shape-
    constrained trend fit that PAVA computes sequentially, made
    order-free: interval means are exact rationals (BIGINT sum, day
    count), and multiplying by ISO_LCM / den (an EXACT integer for any
    den <= 36) turns every mean into one DECIMAL(38,0) so min/max
    aggregate it with no float comparison anywhere. Deterministic on
    any engine or partitioning; DuckDB replays it verbatim in HUGEINT.

    Scale shape: the corpus collapses to one row per calendar day
    BEFORE any pair math (the revenue_autocorr contract), so the
    O(days^3) minimax join is over a month-bounded frame (~4.5k rows),
    all broadcast — corpus size never enters the cubic term. Bound:
    interval lengths must stay <= 36 days (ISO_LCM's divisibility
    range); the testdata events table spans one month by design.
    """
    daily = ev.groupBy(F.to_date(ts_col).alias("day")).agg(
        F.sum(F.floor(F.col(value_col) * float(scale)).cast("long")).alias("y")
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    d = (
        daily.crossJoin(F.broadcast(d0))
        .select(F.datediff("day", "d0").alias("t"), "y")
        .transform(sizing.materialize, "isotonic daily series")
    )
    a, b, c = d.alias("a"), d.alias("b"), d.alias("c")
    pairs = a.crossJoin(F.broadcast(b)).where(F.col("a.t") <= F.col("b.t")).select(
        F.col("a.t").alias("i"), F.col("b.t").alias("j")
    )
    terms = (
        pairs.join(
            F.broadcast(c),
            (F.col("c.t") >= F.col("i")) & (F.col("c.t") <= F.col("j")),
        )
        .groupBy("i", "j")
        .agg(
            F.sum("c.y").cast("decimal(38,0)").alias("num"),
            F.count(F.lit(1)).alias("den"),
        )
    )
    scaled = terms.select(
        "i", "j", (F.col("num") * F.expr(f"{ISO_LCM}L div den")).alias("sc")
    )
    tf = d.select(F.col("t").alias("tt"))
    step1 = (
        scaled.join(
            F.broadcast(tf),
            (F.col("i") <= F.col("tt")) & (F.col("j") >= F.col("tt")),
        )
        .groupBy("tt", "i")
        .agg(F.min("sc").alias("mn_sc"))
    )
    iso = step1.groupBy("tt").agg(F.max("mn_sc").alias("iso_sc"))
    return (
        iso.join(d, iso["tt"] == d["t"])
        .select(
            F.col("t").cast("double").alias("day_idx_d"),
            F.col("y").cast("double").alias("y_micro_d"),
            F.expr(f"CAST(iso_sc div {ISO_LCM}L AS DOUBLE)").alias(
                "iso_micro_d"
            ),
        )
        .orderBy("day_idx_d")
    )


def dtw_cost(
    series: DataFrame,
    *,
    xs_col: str = "xs",
    ys_col: str = "ys",
    m: int = 28,
) -> DataFrame:
    """Exact integer Dynamic Time Warping (Sakoe & Chiba, IEEE TASSP
    1978) between two m-element BIGINT series carried as array columns
    on a ONE-ROW frame (the ses/holt/haar bounded-fold contract):
    |x_i - y_j| unit costs, full m x m DP, monotone step set
    {down, right, diagonal}.

    The DP runs as m chained projections over the one-row frame — row i
    of the cost matrix is ONE sequential ``aggregate`` fold that builds
    the row left-to-right (cur[j] = cost + least(prev[j], prev[j-1],
    cur[j-1])), so every cell is a BIGINT and the whole matrix is
    engine- and partitioning-exact. No float, no pow/log; the DuckDB
    oracle replays the identical recurrence through the
    prefix-sum/prefix-min identity (cur[j] = S[j] + min_{k<=j}(a[k] -
    S[k-1]), the min-plus-scan form), which is the same integers by
    construction.

    Returns the input row extended with ``dtw`` (corner cell) and
    ``l1`` (the diagonal-path cost) — dtw <= l1 always, since the
    diagonal is one admissible warp path."""
    big = 1 << 62
    cur = series.withColumn(
        "cur",
        F.expr(
            f"""aggregate(sequence(1, {m}),
                 CAST(array() AS array<bigint>),
                 (acc, j) -> acc || array(
                   abs(element_at({xs_col}, 1) - element_at({ys_col}, j))
                   + if(j = 1, 0L, element_at(acc, -1))))"""
        ),
    )
    for i in range(2, m + 1):
        cur = cur.select(
            "*",
            F.expr(
                f"""aggregate(sequence(1, {m}),
                     CAST(array() AS array<bigint>),
                     (acc, j) -> acc || array(
                       abs(element_at({xs_col}, {i}) - element_at({ys_col}, j))
                       + least(element_at(cur, j),
                               if(j = 1, {big}L, element_at(cur, j - 1)),
                               if(j = 1, {big}L, element_at(acc, -1)))))"""
            ).alias("nxt"),
        ).drop("cur").withColumnRenamed("nxt", "cur")
    return cur.select(
        "*",
        F.expr(f"element_at(cur, {m})").alias("dtw"),
        F.expr(
            f"""aggregate(zip_with({xs_col}, {ys_col}, (a, b) -> abs(a - b)),
                 0L, (acc, v) -> acc + v)"""
        ).alias("l1"),
    ).drop("cur")
