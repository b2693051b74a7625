"""Exact frequency-threshold heavy hitters with per-partition pre-pruning.

The naive plan for "keys with count >= s" shuffles EVERY key's partials —
at 100 TB the long tail (keys seen a handful of times) dominates the
exchange while contributing nothing to the answer. The two-phase shape
here prunes the tail before it ever shuffles:

  Phase 1 (candidates, narrow): count keys inside each input partition
  (Arrow `mapInPandas`, one vectorized value_counts per batch — no
  shuffle) and emit only keys with per-partition count >= ceil(s / P).
  Pigeonhole guarantees NO FALSE NEGATIVES: a key with global count >= s
  spread over P partitions must reach s/P in at least one of them.

  Phase 2 (verify, tiny): distinct the candidate keys (a shuffle of the
  few survivors), broadcast them, semi-join the raw rows, and take EXACT
  counts of candidates only — the one real groupBy touches a vanishing
  fraction of the data.

The result is exactly `GROUP BY key HAVING count(*) >= s` (which is what
the DuckDB oracle states), at the exchange cost of the heavy keys alone.
This is the deterministic, exactness-preserving cousin of count-min /
SpaceSaving sketch top-k (Misra-Gries style per-partition thresholds).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from . import sizing

__all__ = [
    "heavy_hitters",
    "cms_cells",
    "cms_estimates",
    "CMS_DEPTH",
    "CMS_WIDTH",
    "quantile_sketch_cells",
    "quantile_estimates",
]


def heavy_hitters(df: DataFrame, key_col: str, *, min_count: int) -> DataFrame:
    """Exact (key, n) for every key occurring at least ``min_count`` times."""
    # Partition count is driver-side metadata (no job); the per-partition
    # threshold must use the REAL partition count — fewer partitions only
    # raises the bar correctness allows, more would break the pigeonhole.
    num_parts = max(df.rdd.getNumPartitions(), 1)
    local_min = math.ceil(min_count / num_parts)
    key_field = df.schema[key_col]
    cand_schema = StructType([StructField(key_col, key_field.dataType)])

    def local_candidates(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        counts: pd.Series | None = None
        for pdf in batches:
            c = pdf[key_col].value_counts()
            counts = c if counts is None else counts.add(c, fill_value=0)
        if counts is not None:
            hot = counts[counts >= local_min]
            yield pd.DataFrame({key_col: hot.index.to_numpy()})

    candidates = (
        df.select(key_col).mapInPandas(local_candidates, cand_schema).distinct()
    )
    return (
        df.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


# --------------------------------------------------------------------------
# Count-min sketch: the MERGEABLE approximate-count companion to the exact
# heavy_hitters above (Cormode & Muthukrishnan 2005). Counters are
# additive, so per-partition / per-day sketches sum cell-wise to exactly
# the single-pass sketch — the property that makes it the 100 TB rollup
# structure (keep a d×w grid per hour, merge grids for any time range).
# Hashing reuses the MinHash md5/affine idiom, so the whole construction
# is deterministic and cross-engine reproducible — the DuckDB oracle
# rebuilds the identical sketch and the comparison is exact, not
# tolerance-based.
# --------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_hash_cols(key_str):
    """depth deterministic row-hash columns for a string key column."""
    from .text import MINHASH_P, minhash_coeffs

    h = F.conv(F.substring(F.md5(key_str), 1, 7), 16, 10).cast("long")
    return [
        ((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P) % F.lit(CMS_WIDTH)).alias(
            f"__c{i}"
        )
        for i, (a, b) in enumerate(minhash_coeffs(CMS_DEPTH))
    ]


def cms_cells(df: DataFrame, key_col: str, extra_group: list[str] | None = None) -> DataFrame:
    """(row_i, col, cnt) sketch cells for the key column — optionally per
    ``extra_group`` (e.g. a day column) for mergeability. Keys pre-aggregate
    BEFORE the explode (one map-combined shuffle carries (key, n), then the
    d-way fan-out runs over distinct keys only, never raw rows)."""
    g = list(extra_group or [])
    per_key = (
        df.groupBy(*g, F.col(key_col).cast("string").alias("__k"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(*g, "__k", "__n", *_cms_hash_cols(F.col("__k")))
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row_i"), F.col(f"__c{i}").alias("col")
                )
                for i in range(CMS_DEPTH)
            ]
        )
    ).alias("cell")
    return (
        per_key.select(*g, "__n", rows)
        .select(*g, "cell.row_i", "cell.col", "__n")
        .groupBy(*g, "row_i", "col")
        .agg(F.sum("__n").alias("cnt"))
    )


def cms_estimates(df: DataFrame, key_col: str, *, min_count: int) -> DataFrame:
    """(key, exact_n, cms_est) for keys with exact count >= min_count:
    est = min over rows of the key's cell counter. The sketch grid is at
    most depth×width rows — broadcast — so the estimate join never
    shuffles the keys a second time; by construction est >= exact
    (pinned in tests), with the classic (eps, delta) overestimate bound."""
    per_key = (
        df.groupBy(F.col(key_col).cast("string").alias("__k"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .select("__k", "exact_n", *_cms_hash_cols(F.col("__k")))
        .transform(sizing.materialize, "cms per-key counts, read twice", eager=False)
    )
    # Derive the grid from the SAME per-key aggregate (rename exact_n to
    # the cell weight) — calling cms_cells(df) here would re-scan and
    # re-shuffle the raw rows a second time for an identical groupBy.
    rows = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("row_i"), F.col(f"__c{i}").alias("col"))
                for i in range(CMS_DEPTH)
            ]
        )
    ).alias("cell")
    cells = (
        per_key.select(F.col("exact_n").alias("__n"), rows)
        .select("cell.row_i", "cell.col", "__n")
        .groupBy("row_i", "col")
        .agg(F.sum("__n").alias("cnt"))
    )
    out = per_key.filter(F.col("exact_n") >= min_count)
    for i in range(CMS_DEPTH):
        c = cells.filter(F.col("row_i") == i).select(
            F.col("col").alias(f"__c{i}"), F.col("cnt").alias(f"__cnt{i}")
        )
        out = out.join(F.broadcast(c), f"__c{i}")
    est = F.least(*[F.col(f"__cnt{i}") for i in range(CMS_DEPTH)])
    return out.select(
        F.col("__k").alias("key"),
        "exact_n",
        est.cast("long").alias("cms_est"),
    )


HLL_P = 8  # 2^8 = 256 registers

_HLL_REST_LEN = 30  # md5 hex chars after the 2 bucket chars


def hll_registers(
    df: DataFrame,
    key_col: str,
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """From-first-principles HyperLogLog register table (Flajolet et al.
    2007 — public algorithm, independently implemented): bucket = first
    byte of md5(key), register = max over keys of the leading-zero rank
    of the remaining 120 hash bits. Everything is Catalyst expressions
    over the md5 HEX STRING (nibble arithmetic, no 64-bit int hashing),
    which is what makes the sketch EXACTLY reproducible in DuckDB — the
    register table itself hash-checks cross-engine, unlike opaque
    DataSketches blobs (hll_partition_merge covers that path rows-only).

    Registers are max-mergeable: union of sketches = groupBy(bucket).max.
    Scale: one map-combined shuffle of (group, bucket) — 256 rows per
    group survive, whatever the corpus size.
    """
    g = list(group_cols or [])
    bucket, rho = hll_hash_cols(F.col(key_col))
    return (
        df.select(*g, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*g, "bucket")
        .agg(F.max("rho").cast("int").alias("register"))
    )


def hll_hash_cols(key) -> tuple:
    """(bucket, rho) columns for one key — the single hash definition the
    batch AND streaming register tables share (the streaming-equals-batch
    guarantee depends on it)."""
    h = F.md5(key.cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    rest = F.substring(h, 3, _HLL_REST_LEN)
    stripped = F.regexp_replace(rest, "^0+", "")
    nz = F.length(rest) - F.length(stripped)
    v = F.conv(F.substring(stripped, 1, 1), 16, 10).cast("int")
    bl = F.when(v >= 8, 4).when(v >= 4, 3).when(v >= 2, 2).otherwise(1)
    rho = F.when(
        F.length(stripped) == 0, F.lit(4 * _HLL_REST_LEN + 1)
    ).otherwise(4 * nz + (4 - bl) + 1)
    return bucket, rho


def hll_estimate_from_registers(rows, m: int = 1 << HLL_P) -> float:
    """Driver-side HLL estimator over a collected register list
    [(bucket, register), ...] — harmonic mean with the standard
    small-range (linear counting) correction. The float math lives HERE,
    outside the oracled register query, because power-sum rounding is
    order-dependent across engines."""
    import math

    regs = {b: r for b, r in rows}
    alpha = 0.7213 / (1 + 1.079 / m)
    s = sum(2.0 ** -regs.get(b, 0) for b in range(m))
    est = alpha * m * m / s
    zeros = m - len(regs)
    if est <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return est


# ---------------------------------------------------------------------------
# Mergeable quantile sketch: fixed-width histogram
# ---------------------------------------------------------------------------


def quantile_sketch_cells(
    df: DataFrame,
    value_col: str,
    *,
    bucket_width: float,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The sketch STATE: (group..., bucket, n) with bucket =
    floor(value / width). Completes the repo's sketch family (CMS =
    additive counters, HLL = max registers, heavy hitters = pigeonhole
    candidates) with the quantile axis.

    Scale properties, same playbook as the CMS/HLL cells:
    - additive — cells from disjoint shards MERGE by summing n, so
      per-day sketches roll up to any range without touching raw data,
      and the streaming twin is the identical aggregate in complete
      mode (counts only grow);
    - bounded — state is value_range / width cells regardless of row
      count (vs percentile_approx's per-query GK state: this one is a
      persistable, mergeable TABLE);
    - deterministic — bucket assignment is one IEEE double divide +
      floor, reproduced bit-for-bit by the DuckDB oracle, so unlike
      t-digest/KLL the sketch hash-checks exactly cross-engine.
    """
    bucket = F.floor(F.col(value_col) / F.lit(float(bucket_width))).cast("long")
    return (
        # NULL values carry no quantile information and their bucket
        # (NULL) ORDERS DIFFERENTLY across engines (Spark windows put
        # NULL first ASC, DuckDB last) — shifting every cumulative count
        # by the NULL-cell mass (r13 events poison sweep). Drop them at
        # the sketch boundary, mirrored by the oracle's IS NOT NULL.
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def quantile_estimates(
    cells: DataFrame,
    *,
    bucket_width: float,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quantile estimates from the histogram sketch: a cumulative-count
    walk (window over the bounded cell table — state is cells, never
    rows) locates rank ``floor(q*(N-1)) + 1``'s bucket, and uniform
    interpolation inside it gives the estimate. Error <= bucket_width
    by construction (pinned against exact percentiles in tests). The
    whole estimator is Catalyst arithmetic the oracle restates
    verbatim, so estimates hash-check exactly."""
    from pyspark.sql import Window

    spark = cells.sparkSession
    gl = list(group_cols)
    if gl:
        w = Window.partitionBy(*gl).orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wt = Window.partitionBy(*gl)
        cum = cells.withColumn("cum", F.sum("n").over(w)).withColumn(
            "n_total", F.sum("n").over(wt)
        )
    else:
        # ungrouped: the prefix sum over the BOUNDED cell table comes
        # from an O(C²) broadcast self-join (C = value_range / width
        # cells), not a partition-less window — same exact integer sums,
        # no single-partition move, no WindowExec warning (VERDICT r6 #5)
        b2 = cells.select(
            F.col("bucket").alias("__b2"), F.col("n").alias("__n2")
        )
        cum = (
            cells.join(F.broadcast(b2), F.col("__b2") <= F.col("bucket"))
            .groupBy("bucket", "n")
            .agg(F.sum("__n2").alias("cum"))
            .crossJoin(F.broadcast(cells.agg(F.sum("n").alias("n_total"))))
        )
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    ranked = cum.crossJoin(F.broadcast(qdf)).withColumn(
        "rank", (F.floor(F.col("q") * (F.col("n_total") - 1)) + 1).cast("long")
    )
    hit = ranked.filter(
        (F.col("cum") - F.col("n") < F.col("rank")) & (F.col("rank") <= F.col("cum"))
    )
    width = F.lit(float(bucket_width))
    est = F.round(
        F.col("bucket") * width
        + width
        * (F.col("rank") - (F.col("cum") - F.col("n"))).cast("double")
        / F.col("n").cast("double"),
        6,
    )
    return hit.select(
        *gl, "q", est.alias("est"), F.col("n_total").alias("n_total")
    )
