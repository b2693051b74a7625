"""Query registry: the single source of truth binding each implemented
operator (SURVEY.md §2 inventory + north-star extensions) to

  (a) a PySpark query  ``(spark, sf_dir) -> DataFrame``  and
  (b) an equivalent ANSI-SQL oracle string for DuckDB (or None for
      genuinely non-SQL-expressible ops → rows-only check).

``__spark_entry__.py`` exposes this registry through the driver contract.
Column names are aliased identically on both sides — the driver's compare
sorts columns by name before hashing values.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F

from .. import io as io_mod
from ..functions import python_udfs
from ..functions.scalars import as_array, timestamp_to_string
from ..ml import features as ml_features
from ..ml import predict as ml_predict
from ..ksql import runbook
from ..operators import (
    annx,
    bloom,
    bpe,
    bucketing,
    dedup,
    graph,
    joins,
    multimodal,
    rolling,
    similarity,
    sizing,
    text,
    timeseries,
    topk,
    windows,
)
from ..operators import rank as rank_ops
from ..plans import tpch
from ..sources import cdc
from ..sources import generator
from ..streaming import queries as stream_queries
from ..streaming import sinks as stream_sinks
from ..streaming import source as stream_source
from ..streaming import stateful as stream_stateful

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = QueryDef(name=name, spark=fn, oracle=oracle)
        return fn

    return deco



def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return io_mod.load_table(spark, sf_dir, name)


_SCRATCH_DIRS: dict[tuple[str, str], str] = {}


def _scratch_dir(
    kind: str, sf_dir: str, fill: Callable[[str], None] | None = None
) -> str:
    """A temp directory ``sgraft_<kind>_*`` per (kind, sf_dir), shared by
    every query that replays or round-trips it: made and filled by
    ``fill(d)`` once, or again if it is gone; removed at interpreter exit."""
    d = _SCRATCH_DIRS.get((kind, sf_dir))
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=f"sgraft_{kind}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        if fill is not None:
            fill(d)
        _SCRATCH_DIRS[(kind, sf_dir)] = d
    return d


