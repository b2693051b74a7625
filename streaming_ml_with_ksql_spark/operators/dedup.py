"""Latest-per-key (KSQL TABLE materialization) and deduplication operators.

``latest_per_key`` reproduces the reference's ``CREATE TABLE users`` —
changelog-compaction keeping the newest row per key (reference:
README.md:29; upsert semantics of a KSQL table). One ``max_by``
aggregation serves batch and streaming frames alike.

The dedup family (exact + near-dup) is part of the north-star
training-data-pipeline surface; near-dup variants live in text.py /
similarity.py.

Scale notes:
- `latest_per_key` is one shuffle on the key; with AQE skew-split a hot key
  (one user with 1e9 updates) is handled. For CDC-shaped input where only
  the latest matters, `max_by`-style aggregation (commutative, partial-agg
  friendly) beats full sort: `F.max_by(struct, ts)` map-side combines, so
  the shuffle carries one row per key per input partition.
- `dedup_exact` hashes wide payload columns down to a fingerprint before the
  shuffle: at 100 TB you shuffle 16-byte digests, not document bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ml.predict import _col

__all__ = ["latest_per_key", "dedup_exact", "distinct_keys"]


def latest_per_key(
    df: DataFrame,
    key: str | list[str],
    ts: str,
    *,
    tiebreak: str | None = None,
) -> DataFrame:
    """Latest row per key — KSQL TABLE semantics (reference: README.md:29).

    One ``max_by`` aggregation: commutative + partial aggregation ⇒
    map-side combine before the shuffle, the right shape at 100 TB. The
    same plan runs on a streaming frame (update/complete output mode): the
    state store keeps one struct per key, a continuously-updated
    changelog.

    ``tiebreak`` orders rows with equal timestamps (defaults to the first
    key column — deterministic results require *some* total order).
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = f"struct({_col(ts)}, {_col(tiebreak or keys[0])})"
    # One atomic max_by over the whole row struct — picking columns
    # independently could stitch together fields from different tied rows.
    row = f"max_by(struct({', '.join(map(_col, df.columns))}), {order}) AS __row"
    return df.groupBy(*map(_col, keys)).agg(F.expr(row)).select("__row.*")


def dedup_exact(
    df: DataFrame,
    content_cols: list[str],
    *,
    id_col: str,
) -> DataFrame:
    """Exact dedup: keep one representative row (min id) per distinct
    content fingerprint. North-star operator for the documents table.

    The group key is a 128-bit md5 of the concatenated content columns —
    the shuffle carries digests, not payloads; survivors are recovered by a
    self-join on the winning id (broadcast-free, key-partitioned).
    """
    fp = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols]))
    winners = (
        df.select(F.col(id_col), fp.alias("__fp"))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "inner")


def distinct_keys(df: DataFrame, *cols: str) -> DataFrame:
    """Key enumeration (reference: train.py:257 — ``unique()`` over user_id)."""
    return df.select(*cols).distinct()
