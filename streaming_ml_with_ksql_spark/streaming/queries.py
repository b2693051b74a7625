"""Streaming query builders — the continuous twins of the batch operators.

Maps the reference's KSQL statements (reference: README.md:27-70) onto
Structured Streaming:

- hopping-window per-user aggregate (README.md:41-50) → watermarked
  ``F.window(ts, size, slide)`` groupBy — identical epoch-aligned grid to
  the batch flagship, so batch ≡ stream up to watermark finalization;
- ``CREATE TABLE users`` latest-per-key materialization (README.md:29) →
  the batch ``operators.dedup.latest_per_key`` itself: its ``max_by``
  aggregation runs unchanged on a stream in update/complete mode;
- the enrichment LEFT JOIN + predict projection (README.md:62-70) →
  stream-static broadcast join + whole-frame model transform.

W3/W5 divergence (SURVEY.md §2.5, §7 hard part 1), written down once:
KSQL emits every refinement (`EMIT CHANGES`) and folds late data in until
state retention expires; Spark append mode emits a window exactly once,
when the watermark passes its end, and drops events later than the
watermark. Update mode is the closest KSQL analog (refinements re-emitted);
append is the right choice for exactly-once sinks. Both are exposed —
the caller picks via the sink's output mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ml import predict as ml_predict
from ..operators import joins, windows

__all__ = [
    "hopping_window_stream",
    "enrich_and_score_stream",
    "interval_join_stream",
]


def hopping_window_stream(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    watermark_delay: str = "2 minutes",
    **agg_kwargs,
) -> DataFrame:
    """Watermarked streaming version of the flagship hopping-window
    aggregate (reference: README.md:41-50). Same plan as the batch
    operator — only the watermark (state-eviction bound) is added.
    State per key is bounded: size/slide live windows per user, evicted
    once the watermark passes (the KSQL analog is RocksDB retention)."""
    return windows.hopping_window_agg(
        events.withWatermark(ts_col, watermark_delay),
        ts_col=ts_col,
        **agg_kwargs,
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "10 minutes",
    watermark_delay: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream–stream interval join (absent from the reference's KSQL
    5.4 surface, SURVEY.md §2.9; native in Structured Streaming): left
    rows match right rows of the same key with
    ``right_ts ∈ [left_ts − lookback, left_ts]``.

    Both sides are watermarked; the time-range condition bounds each
    side's state (a right row is evicted once the watermark passes
    ``right_ts + lookback``). For an in-order bounded replay the emitted
    matches equal the batch join exactly — which is how the oracle checks
    it. Columns must be disjoint apart from the key.

    ``how='left_outer'``: unmatched left rows additionally emit with NULL
    right columns — but only once the watermark passes the row's last
    possible match time (state eviction), so the outer emission set is
    itself watermark-defined; left rows newer than the final watermark
    never emit their NULL row. The streaming_interval_join_left oracle
    states exactly that set.
    """
    l_wm = left.withWatermark(left_ts, watermark_delay).alias("l")
    r_wm = right.withWatermark(right_ts, watermark_delay).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    key_col = (
        F.coalesce(F.col(f"l.{key}"), F.col(f"r.{key}")).alias(key)
        # outer rows may carry the key on either side only
        if how in ("full_outer", "right_outer")
        else F.col(f"l.{key}").alias(key)
    )
    out_cols = [key_col] + [
        F.col(f"l.{c}") for c in left.columns if c != key
    ] + [F.col(f"r.{c}") for c in right.columns if c != key]
    return l_wm.join(r_wm, cond, how).select(*out_cols)


def enrich_and_score_stream(
    agg_stream: DataFrame,
    dim: DataFrame,
    *,
    fact_key: str = "user_id",
    dim_key: str,
    model_name: str | None = None,
    models_dir: str | None = None,
) -> DataFrame:
    """The reference's serving query (reference: README.md:62-70):
    windowed-aggregate stream LEFT JOIN latest users table, then the
    ``predict(...)`` projection.

    The dimension is a *static* (batch) frame → stream-static join, which
    Spark plans as a broadcast hash join: no shuffle on the stream side, no
    streaming state — the scale-correct shape for a bounded dimension.
    Scoring is the model compiled into one column expression
    (``ml.predict.score``, SURVEY.md U2), so it composes with streaming
    frames and adds no UDF or vector column to the micro-batch plan.
    """
    joined = joins.enrich_left_join(agg_stream, dim, fact_key, dim_key)
    if model_name is None:
        return joined
    return ml_predict.score(joined, model_name, models_dir=models_dir)
