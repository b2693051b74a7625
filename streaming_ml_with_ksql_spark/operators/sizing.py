"""Plan-derived sizing: one way to size a frame, one way to route to a
single-task kernel.

``row_bound(df)`` reads an upper bound on a frame's rows from its own
analyzed plan (already resolved when the DataFrame was built, so the walk
costs no optimizer pass). A scan-shaped plan (one parquet leaf under nodes that never
add rows, or the left side of a semi/anti join) is bounded by its files'
parquet-footer row counts — metadata only, no Spark job. A materialized
leaf (checkpoint, local data, range) gets its exact row count. Anything
else returns None: counting it would re-execute the upstream DAG once per
sizing (ADVICE r5). Catalyst's ``sizeInBytes`` is not used: it reads ~15 GB
for the 256-row distributed ngram pair frame (~11 GB even checkpointed), so
a gate on it would send every small pair graph to the distributed loops.

``fan_out`` caps the round-robin width ahead of a CPU-bound Python stage at
``ceil(rows / rows_per_task)``: input partitioning follows bytes while
kernel cost follows rows (VERDICT r4: the sf0.1 audio decode paid 0.9 s of
task overhead on 0.45 s of work at full width).

``single_task`` is the only place that feeds a ``mapInPandas`` kernel with
ONE partition: it picks the route and the feed. ``repartition(1)`` over a
lazy plan keeps the upstream scan parallel and ships only the kernel's
rows to the task (r15: coalescing a lazy tokenize/explode plan into the
kernel task measured 4x slower); ``coalesce(1)`` over a materialized frame
skips a pointless exchange.

``materialize`` is the only lineage cut: a local checkpoint, never a
CacheManager persist that stays pinned until ``clearCache``. Cut only where
recomputing costs more: iterative state, several consumers, or a frame a
kernel gate must size exactly (a materialized leaf).
"""

from __future__ import annotations

import logging
import time
from typing import Callable

from pyspark.sql import DataFrame

__all__ = ["row_bound", "fan_out", "single_task", "materialize"]

log = logging.getLogger(__name__)

# Logical-plan nodes whose output never has more rows than their (first)
# child's.
_ROW_PRESERVING = frozenset({
    "Project", "Filter", "SubqueryAlias", "ResolvedHint", "Aggregate",
    "Distinct", "Deduplicate", "Sort", "GlobalLimit", "LocalLimit", "Window",
    "Repartition", "RepartitionByExpression", "RebalancePartitions", "Sample",
})

# Leaves whose rows are already materialized (checkpoint, local data).
_MATERIALIZED = frozenset({"LogicalRDD", "LocalRelation", "Range"})


def _materialized(node) -> bool:
    """True iff the plan is narrow work (project/filter/union) over
    materialized leaves — cheap enough to run inside the kernel task."""
    kind = node.getClass().getSimpleName()
    if kind in _MATERIALIZED:
        return True
    kids = node.children()
    return kind in ("Project", "Filter", "Union") and all(
        _materialized(kids.apply(i)) for i in range(kids.size())
    )


def _footer_rows(relation) -> int | None:
    """Sum of the parquet-footer row counts of a file relation's inputs, or
    None when the relation is not parquet or a file system pyarrow cannot
    open (the frame then stays unbounded — the safe direction)."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    if relation.getClass().getSimpleName() != "HadoopFsRelation" or (
        relation.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        return None
    n = 0
    try:
        for uri in relation.location().inputFiles():
            fs, path = pafs.FileSystem.from_uri(uri)
            n += pq.read_metadata(path, filesystem=fs).num_rows
    except (OSError, ValueError):
        return None
    return n


def row_bound(df: DataFrame) -> int | None:
    """Upper bound on ``df``'s rows from its analyzed plan, or None when
    only executing the plan could tell (see the module docstring)."""
    if df.isStreaming:
        return None
    node = df._jdf.queryExecution().analyzed()
    while True:
        kind = node.getClass().getSimpleName()
        if kind == "LogicalRelation":
            return _footer_rows(node.relation())
        if kind == "LocalRelation":
            return node.data().size()
        if kind == "Range":
            return int(str(node.numElements()))
        if kind == "LogicalRDD":
            return df.count()
        if kind == "Aggregate" and node.groupingExpressions().isEmpty():
            return 1
        if kind in _ROW_PRESERVING:
            node = node.child()
        elif kind == "Join" and node.joinType().toString() in ("LeftSemi", "LeftAnti"):
            node = node.left()
        else:
            return None


def fan_out(df: DataFrame, *, rows_per_task: int = 512) -> DataFrame:
    """Round-robin ``df`` across ``min(shuffle_partitions,
    ceil(row_bound / rows_per_task))`` partitions; an unbounded frame keeps
    the full configured width. Each call logs one line with the width."""
    n_max = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rows = row_bound(df)
    width = n_max if rows is None else max(1, min(n_max, -(-rows // rows_per_task)))
    log.info(
        "fan_out width=%s rows=%s rows_per_task=%s max=%s",
        width, rows, rows_per_task, n_max,
    )
    return df.repartition(width)


def single_task(
    df: DataFrame,
    kernel: Callable,
    schema: str,
    *,
    name: str,
    max_rows: int,
    rows: int | None = None,
    requires: bool | None = None,
) -> DataFrame | None:
    """``df.mapInPandas(kernel, schema)`` over ONE partition when the route
    is the kernel, else None: the caller runs its distributed twin.

    The kernel runs iff ``rows < max_rows``; ``rows`` is the caller's
    measure of the input (edges, cells, ...) and defaults to
    ``row_bound(df)``, and an unknown bound stays distributed. ``requires``
    False (a kernel precondition such as integral ids) also stays
    distributed. The route is a function of the input alone: tests force
    one by patching the operator's ``max_rows`` constant. Sizing jobs run
    under the job description ``single_task:<name>``; each decision logs
    one line."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"single_task:{name}")
    try:
        if requires is False:
            route, reason = False, "requirement unmet"
        else:
            rows = row_bound(df) if rows is None else rows
            route = rows is not None and rows < max_rows
            reason = "size" if rows is not None else "no bound"
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    feed = None
    if route:
        materialized = _materialized(df._jdf.queryExecution().analyzed())
        feed = "coalesce" if materialized else "repartition"
    log.info(
        "single_task name=%s path=%s rows=%s bound=%s reason=%s feed=%s",
        name, "kernel" if route else "distributed", rows, max_rows, reason, feed,
    )
    if feed is None:
        return None
    one = df.coalesce(1) if feed == "coalesce" else df.repartition(1)
    return one.mapInPandas(kernel, schema)


def materialize(df: DataFrame, why: str, *, eager: bool = True) -> DataFrame:
    """``df`` as a local checkpoint, computed now in jobs described
    ``materialize:<why>`` and logged with its seconds. ``eager=False``
    leaves the final stage to the first action (e.g. a per-round
    convergence count); adaptive execution still runs the plan's shuffle
    stages here."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"materialize:{why}")
    t0 = time.perf_counter()
    try:
        out = df.localCheckpoint(eager=eager)
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    log.info("materialize why=%s eager=%s s=%.3f", why, eager, time.perf_counter() - t0)
    return out
