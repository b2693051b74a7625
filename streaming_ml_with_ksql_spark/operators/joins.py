"""Join operators.

The reference's single join is a stream–table LEFT OUTER equi-join: each
windowed-aggregate row enriched with the latest ``users`` row for its key
(reference: README.md:56-58, 62-70). KSQL forces the user to pre-partition
both sides by the join key (the rekey at README.md:28); in Spark that
physical concern disappears — Catalyst shuffles on demand, and for a bounded
dimension table we broadcast instead, eliminating the shuffle entirely.

Scale notes:
- The dimension side of the enrich join is explicitly ``F.broadcast`` — at
  100 TB the fact side never shuffles for this join; each executor holds the
  (bounded) dimension hash map. This is strictly better than KSQL's
  repartition-topic round-trip through the broker.
- If the dimension outgrows broadcast (> ~1 GB), drop the hint and let AQE
  pick shuffled hash / sort-merge with skew-split — the API stays the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "enrich_left_join",
    "as_of_join",
    "salted_join",
    "range_bucket_join",
]


def enrich_left_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Stream–table LEFT OUTER equi-join (reference: README.md:62-70 —
    ``aggregated_events_stream LEFT JOIN users ON ... = users.rowkey``).

    Unmatched fact rows keep NULL dimension columns, matching KSQL's
    left-join semantics. No pre-rekey needed (reference: README.md:28;
    SURVEY.md J2/J3) — broadcast replaces co-partitioning.
    """
    return facts.join(F.broadcast(dim), facts[fact_key] == dim[dim_key], "left")


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    salt: int = 8,
    how: str = "left",
) -> DataFrame:
    """Skew-resistant shuffled equi-join: the fact side gets a deterministic
    per-row salt (hash of the full fact row, mod ``salt``) and the dimension
    is replicated ``salt`` ways, so one hot key spreads over ``salt``
    reducers.

    This is the manual fallback for when AQE's skew-join splitting
    (enabled in session.py) can't apply — e.g. a skewed *stream-static*
    join or an aggregation-feeding join where AQE sees no skewed sort-merge
    node. Results are identical to the unsalted join (oracle-checked via
    the enriched-join query variant).
    """
    # Deterministic per-row spread: hash EVERY fact column, not
    # monotonically_increasing_id (whose value changes across task retries
    # and recomputation — a lost executor would re-salt rows differently
    # mid-job). Hashing the key alone would put the hot key in ONE bucket;
    # hashing the whole row spreads it, stably.
    fact_salt = F.pmod(
        F.hash(*[F.col(c) for c in facts.columns]), F.lit(salt)
    )
    salted_facts = facts.withColumn("__salt", fact_salt)
    exploded_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = salted_facts.join(
        exploded_dim,
        (salted_facts[fact_key] == exploded_dim[dim_key])
        & (salted_facts["__salt"] == exploded_dim["__salt"]),
        how,
    )
    return out.drop("__salt")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: tuple[str, ...],
    tiebreak: str,
) -> DataFrame:
    """Backward as-of LEFT join: each left row picks the right row with the
    greatest ``right_ts <= left_ts`` for its key (ties broken by greatest
    ``tiebreak``); unmatched left rows keep NULL payload. Absent from the
    reference surface (SURVEY.md §2.9 theta/as-of joins) but core for
    event-attribution and point-in-time-correct feature joins.

    Implementation is the scalable merge idiom, NOT a range theta-join:
    union both sides tagged, one shuffle on the key, one ordered pass with
    ``last(payload, ignorenulls)`` over rows-unbounded-preceding. At equal
    timestamps right rows sort before left rows (inclusive ``<=``).
    A range-condition join would make Catalyst fall back to
    broadcast-nested-loop — O(n·m) per key and a non-starter at 100 TB;
    this shape is O((n+m) log (n+m)) per key in one shuffle round.
    """
    lcols = left.columns
    # The payload travels as ONE struct — per-column last(ignorenulls) could
    # stitch fields from different right rows when a payload field is NULL.
    payload_struct_t = (
        "struct<" + ",".join(
            f"{c}:{right.schema[c].dataType.simpleString()}" for c in payload_cols
        ) + ">"
    )
    l_tag = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(right.schema[tiebreak].dataType).alias("__tb"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(payload_struct_t).alias("__p"),
    )
    r_tag = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.col(tiebreak).alias("__tb"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.struct(*[F.col(c) for c in payload_cols]).alias("__p"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc(), F.col("__tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l_tag.unionByName(r_tag).select(
        "__is_left",
        *lcols,
        F.last("__p", ignorenulls=True).over(w).alias("__m"),
    )
    return merged.filter(F.col("__is_left") == 1).select(
        *lcols, *[F.col(f"__m.{c}").alias(c) for c in payload_cols]
    )


def range_bucket_join(
    facts: DataFrame,
    intervals: DataFrame,
    *,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval join WITHOUT an equality key — the join shape
    Catalyst can only plan as BroadcastNestedLoopJoin (O(n·m) probes), made
    scalable by time-bucket discretization: every interval explodes to the
    buckets it overlaps, every fact maps to its containing bucket, the join
    becomes a plain equi-join on the bucket id, and the exact range
    predicate filters the per-bucket candidates (semantics unchanged —
    bucketing only prunes, the final filter decides).

    Candidate cost is Σ_buckets |facts_b|·|intervals_b| instead of n·m:
    pick ``bucket_seconds`` near the typical interval length so each
    interval lands in O(1) buckets. Absent from the reference (SURVEY.md
    §2.9 theta/range joins); the standard technique for event-in-window
    attribution at scale (e.g. incident windows × event streams).
    """
    bus = F.lit(int(bucket_seconds) * 1_000_000)
    f_b = facts.withColumn(
        "__bucket", F.floor(F.unix_micros(F.col(ts_col)) / bus)
    )
    # Guard empty/inverted intervals: Spark's sequence(a, b) counts DOWN
    # when b < a (same trap as text.shingles), which would explode an
    # inverted interval into every bucket across the reversed span. An
    # interval with end <= start matches nothing — emit no buckets at all.
    buckets = F.when(
        F.col(end_col) > F.col(start_col),
        F.sequence(
            F.floor(F.unix_micros(F.col(start_col)) / bus),
            F.floor((F.unix_micros(F.col(end_col)) - 1) / bus),
        ),
    ).otherwise(F.array().cast("array<long>"))
    i_b = intervals.withColumn("__bucket", F.explode(buckets))
    return (
        f_b.join(i_b, "__bucket")
        .filter(
            (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
        )
        .drop("__bucket")
    )
