"""Scalar functions the reference invokes.

Only two KSQL builtins appear in the reference workload (SURVEY.md §2.2):

- ``TIMESTAMPTOSTRING(epoch_ms, 'HH:mm:ss')`` (reference: README.md:43-44)
- ``as_array(c1, c2, ...)`` (reference: README.md:68)

Both map to single JVM-side Catalyst expressions — they stay inside
whole-stage codegen, no Python worker round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["timestamp_to_string", "as_array"]


def timestamp_to_string(col: Column | str, fmt: str = "HH:mm:ss") -> Column:
    """KSQL ``TIMESTAMPTOSTRING`` for a TimestampType column
    (reference: README.md:43-44). Timezone-stable because the session is
    pinned to UTC (session.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, fmt)


def as_array(*cols: Column | str) -> Column:
    """KSQL ``as_array(c1, c2, ...)`` (reference: README.md:68) →
    ``F.array``. Feeds the model-scoring operator's list-typed params
    (reference: PredictUdf.java:40-41)."""
    return F.array(*[F.col(c) if isinstance(c, str) else c for c in cols])
