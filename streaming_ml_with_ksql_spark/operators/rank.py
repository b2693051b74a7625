"""Distributed global ranking — exact row numbers and NTILE without a
single-partition sort.

An unpartitioned ``Window.orderBy`` moves EVERY row through one partition
(Spark's WindowExec prints the single-partition warning); correct at
sf0.01, a scale-killer on a corpus-sized frame (VERDICT r6 flagged
``customer_rfm_segments``' three global NTILE windows). The classic fix is
the two-pass range-sort row number, expressed here entirely in DataFrame
ops:

1. ``repartitionByRange`` on the order keys — a parallel range shuffle
   (each of P partitions holds one contiguous key range),
2. ``sortWithinPartitions`` — P parallel local sorts,
3. ``monotonically_increasing_id`` projected above the sort encodes
   (partition id << 33) + arrival index, i.e. the LOCAL rank, assigned
   JVM-side with zero extra passes,
4. per-partition counts (ONE row per partition) → prefix offsets via a
   broadcast O(P²) self-join on that tiny frame — no partition-less
   window, no driver collect,
5. global row number = prefix offset + local index + 1, attached with a
   broadcast join on partition id.

The ranged frame is pinned with ``sizing.materialize`` before steps 4/5:
the counts branch and the join branch must observe IDENTICAL partition
ids and local indexes, and without pinning, adaptive execution may plan
the two consumers of the reused exchange differently (different
coalesced partitioning → different ``monotonically_increasing_id``
values per branch → silently wrong ranks). The checkpoint is one
materialization of the already-shuffled frame — the same
lineage-truncation idiom the graph-components loops use.

No analog in the reference (its ksqlDB surface has no ranking windows at
all); this is the scale substrate for the RFM quintile scorer and any
future exact-quantile operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import sizing

__all__ = [
    "global_row_number",
    "parallel_ntile",
    "ntile_scores",
]

_LOW33 = (1 << 33) - 1


def _fdiv(a: Column, b: Column) -> Column:
    """Exact integer floor-division for non-negative longs < 2^53:
    (a - a % b) is exactly divisible by b, so the double division is
    exact and the cast truncates nothing."""
    return ((a - a % b) / b).cast("long")


def _cdiv(a: Column, b: Column) -> Column:
    return _fdiv(a + b - F.lit(1), b)


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    *,
    out_col: str = "grn",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + a 1-based exact global row number under ``order_cols``
    (which must form a TOTAL order — include a unique tie-break column),
    computed fully in parallel as described in the module docstring.
    ``total_col``, when given, also attaches the total row count (the
    NTILE arithmetic needs it). Eagerly materializes the range-shuffled
    frame once (localCheckpoint)."""
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.repartitionByRange(p, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .transform(sizing.materialize, "pin row ids for both readers")
    )
    ranged = ranged.withColumn(
        "__pid", F.shiftright(F.col("__mid"), 33).cast("long")
    ).withColumn("__lidx", (F.col("__mid").bitwiseAND(F.lit(_LOW33))).cast("long"))
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    c2 = counts.select(
        F.col("__pid").alias("__pid2"), F.col("__cnt").alias("__cnt2")
    )
    offs = (
        counts.join(F.broadcast(c2), F.col("__pid2") < F.col("__pid"), "left")
        .groupBy("__pid", "__cnt")
        .agg(F.coalesce(F.sum("__cnt2"), F.lit(0)).alias("__off"))
    )
    total = counts.agg(F.sum("__cnt").alias("__toti"))
    offs = offs.crossJoin(F.broadcast(total))
    out = ranged.join(
        F.broadcast(offs.select("__pid", "__off", "__toti")), "__pid"
    ).withColumn(out_col, (F.col("__off") + F.col("__lidx") + 1).cast("long"))
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__toti").cast("long"))
    return out.drop("__mid", "__pid", "__lidx", "__off", "__toti")


def parallel_ntile(
    df: DataFrame,
    n_tiles: int,
    order_cols: list[Column],
    out_col: str,
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """SQL-standard ``NTILE(n) OVER (ORDER BY ...)`` without the
    single-partition sort: global row number via :func:`global_row_number`,
    then the standard bucket arithmetic — with ``q = total div n`` and
    ``r = total mod n``, the first ``r`` buckets hold ``q+1`` rows and the
    rest ``q`` (exactly Spark's and DuckDB's NTILE). All arithmetic is
    integer-exact (no float division anywhere near a bucket boundary)."""
    ranked = global_row_number(
        df,
        order_cols,
        out_col="__grn",
        total_col="__tot",
        num_partitions=num_partitions,
    )
    n = F.lit(int(n_tiles))
    grn, tot = F.col("__grn"), F.col("__tot")
    q = _fdiv(tot, n)
    r = tot % n
    big = r * (q + 1)  # rows 1..big sit in the r larger buckets
    # guard the small-bucket divisor: when q == 0 every row is in a large
    # bucket, so the otherwise-branch value is never selected — the
    # greatest() only keeps the unselected division well-defined
    tile = F.when(grn <= big, _cdiv(grn, q + 1)).otherwise(
        r + _cdiv(grn - big, F.greatest(q, F.lit(1)))
    )
    return ranked.withColumn(out_col, tile.cast("int")).drop("__grn", "__tot")


# Row count below which ntile_scores runs every score in one Arrow task
# instead of repeated parallel_ntile passes (one task replaces per-score
# range-shuffle + offsets jobs).
NTILE_SINGLE_TASK_MAX_ROWS = 2_000_000


def ntile_scores(
    df: DataFrame,
    n_tiles: int,
    specs: list[tuple[str, list[tuple[str, str]]]],
) -> DataFrame:
    """ALL of ``specs``' NTILE scores over a bounded decision frame (the
    RFM customer aggregate): each spec is ``(out_col, [(key_col, "asc" |
    "desc"), ...])`` over NUMERIC NON-NULL key columns forming a total
    order. The input frame should be materialized (localCheckpoint) by
    the caller, so sizing it is a cached-RDD count.

    Below ``NTILE_SINGLE_TASK_MAX_ROWS`` (r14 fast path) ONE Arrow task
    replays parallel_ntile's exact integer bucket arithmetic (``q =
    total div n``, first ``r`` buckets hold ``q+1`` rows) over a numpy
    lexsort permutation — a total order has exactly one sorted
    permutation, so the ranks (and therefore every score) are identical
    to the distributed range-shuffle path at any partitioning (pinned by
    parity test). Above it, one parallel_ntile pass per spec runs with
    its range-shuffle width sized to ~1M rows per partition."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", " + ", ".join(f"{out} int" for out, _ in specs)
    names = [f.name for f in df.schema.fields] + [out for out, _ in specs]

    def kern(batches):
        import numpy as np
        import pandas as pd

        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        total = len(pdf)
        q, r = divmod(total, n_tiles)
        big = r * (q + 1)
        for out, keys in specs:
            arrs = []
            for colname, direction in reversed(keys):  # last key = primary
                a = pdf[colname].to_numpy()
                arrs.append(-a if direction == "desc" else a)
            order = np.lexsort(arrs)
            grn = np.empty(total, dtype=np.int64)
            grn[order] = np.arange(1, total + 1)
            if q == 0:
                tile = -(-grn // (q + 1))
            else:
                tile = np.where(
                    grn <= big,
                    -(-grn // (q + 1)),
                    r + -(-(grn - big) // q),
                )
            pdf[out] = tile.astype(np.int32)
        yield pdf[names]

    fast = sizing.single_task(
        df,
        kern,
        out_schema,
        name="ntile",
        max_rows=NTILE_SINGLE_TASK_MAX_ROWS,
    )
    if fast is not None:
        return fast
    rows = sizing.row_bound(df)
    parts = None
    if rows is not None:
        n_max = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        parts = max(1, min(n_max, rows // 1_000_000 + 1))
    for out, keys in specs:
        order = [F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in keys]
        df = parallel_ntile(df, n_tiles, order, out, num_partitions=parts)
    return df
