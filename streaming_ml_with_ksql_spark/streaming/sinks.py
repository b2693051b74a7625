"""Streaming sinks.

The reference materializes every derived stream/table to a Kafka topic
(reference: README.md:28,41,62 — ``CREATE ... AS SELECT``) and ships the
final predictions topic to MongoDB through a sink connector
(reference: infra/connect/mongo-sink.json:4-11). Spark equivalents:

- `run_to_memory` — the test/inspection sink (plays the role of the
  ``EMIT CHANGES`` push query at README.md:31,58);
- `foreach_batch_parquet` — the external-system seam: `foreachBatch`
  receives each micro-batch as a *batch* DataFrame, which is exactly how
  a Mongo/JDBC/Delta sink is driven in production (idempotent by
  `batch_id`). Parquet stands in for Mongo here; swapping the writer body
  to `.format("mongodb")` is the real deployment, no query change.
- `to_kafka` — topic sink seam (untestable here: no broker/connector).

`run_to_memory` and `run_foreach_batch` log one ``drain`` line per drain
(`_await_drain`).
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame

__all__ = [
    "run_to_memory",
    "foreach_batch_parquet",
    "foreach_batch_jsonl_collection",
    "run_foreach_batch",
    "to_kafka",
]

# Shuffle width of a run_to_memory drain's stateful operators.
STATE_PARTITIONS = 8
# Serializes the session-conf window around a drain's start().
_START_LOCK = threading.Lock()

log = logging.getLogger(__name__)


def _await_drain(q, timeout_sec: int) -> None:
    """Wait for an availableNow query to finish, then log its drain line:
    batch count, summed trigger / addBatch / walCommit / commitOffsets
    milliseconds, peak state rows and rows dropped by the watermark, from
    the query's ``recentProgress`` (its last
    ``spark.sql.streaming.numRecentProgressUpdates`` batches, 100 by
    default), only when the ``sinks`` logger is at INFO. Stop it and raise
    if it does not finish within ``timeout_sec``."""
    label = q.name or q.id
    if not q.awaitTermination(timeout_sec):
        # A partially-drained sink would surface as a subtle row-count
        # mismatch downstream; fail loudly instead.
        q.stop()
        raise TimeoutError(
            f"streaming query {label!r} did not drain within {timeout_sec}s"
        )
    if not log.isEnabledFor(logging.INFO):
        return  # recentProgress is a JVM round trip plus a JSON parse per batch
    prog = q.recentProgress
    ms = lambda k: sum(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
    state = [p.get("stateOperators", []) for p in prog]
    log.info(
        "drain query=%s batches=%d trigger_ms=%d add_batch_ms=%d "
        "wal_commit_ms=%d commit_offsets_ms=%d state_rows_max=%d "
        "dropped_by_watermark=%d",
        label, len(prog), ms("triggerExecution"), ms("addBatch"),
        ms("walCommit"), ms("commitOffsets"),
        max((sum(o.get("numRowsTotal", 0) for o in ops) for ops in state), default=0),
        sum(o.get("numRowsDroppedByWatermark", 0) for ops in state for o in ops),
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    *,
    output_mode: str = "append",
    timeout_sec: int = 300,
) -> DataFrame:
    """Run the streaming query to completion over currently-available data
    (``trigger(availableNow)``) into an in-memory table; return that table.

    availableNow drains the source in bounded micro-batches (respecting
    maxFilesPerTrigger) and then stops — the standard way to replay a
    recorded stream deterministically, including watermark finalization
    no-data batches.

    The stateful operators run at ``STATE_PARTITIONS`` shuffle partitions
    (the state-store instance count is fixed at query start): stateful
    streaming exchanges are exempt from AQE coalescing, so the batch
    session width would make every micro-batch pay task + state-commit
    overhead regardless of key volume (r14: 32 state partitions for a
    ~150-key replay cost ~1.6x wall time vs 8; results are
    partitioning-invariant).

    Re-entrant: the width is applied by setting the session-global
    ``spark.sql.shuffle.partitions`` only around ``start()`` (the query
    clones the session conf when it starts and records the width in its
    offset log), under a module lock, so concurrent drains neither see
    each other's value nor leave the session at it. A batch query planned
    on another thread during that window still picks up the width."""
    spark = stream_df.sparkSession
    with _START_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        try:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    _await_drain(q, timeout_sec)
    return spark.table(name)


def foreach_batch_parquet(path: str):
    """Batch-writer callback appending each micro-batch (with its batch id,
    for idempotent replay auditing) — the Mongo-sink analog seam."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        batch_df.withColumn("__batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(path)

    return _write


def foreach_batch_jsonl_collection(path: str):
    """Mongo-collection stand-in (reference: infra/connect/mongo-sink.json:
    4-11 ships ``bot_detection_results`` to a Mongo collection; the
    sandbox has no Mongo): each micro-batch becomes ONE JSONL file named
    by its batch id — one JSON document per line, the collection's
    contents — written atomically (tmp + rename) and SKIPPED when the
    file already exists. foreachBatch re-delivers a batch after failure
    with the SAME batch_id, so batch-id-keyed writes are exactly the
    idempotence discipline a Mongo sink gets from upsert-by-_id:
    re-running a drained query leaves the collection byte-identical.
    Lines are sorted so the file is partition-order independent.

    Rows are serialized executor-side: each partition writes its own
    rows with the DataFrame JSON writer into a batch-scoped staging dir —
    the same execution path a real distributed Mongo writer
    (``batch_df.write.format("mongodb")``) drives, so the production
    swap is still the writer body only. No row crosses Py4J or a
    ``collect``. The driver process then reads every JSON line of the
    batch's part files, sorts them and writes them out as ONE JSONL file
    (the deterministic "collection" artifact this stand-in exists to
    pin), renamed atomically into place: that merge costs driver time
    and memory in proportion to the batch. A real Mongo deployment has no
    merge step at all — upsert-by-_id replaces it.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        import os
        import shutil

        os.makedirs(path, exist_ok=True)
        target = os.path.join(path, f"batch-{batch_id:08d}.jsonl")
        # ALWAYS execute the full frame — Spark's state-store commit
        # validation requires foreachBatch to run every partition even
        # on redelivery (an early return fails the micro-batch), and a
        # Mongo upsert replay likewise re-applies the documents. The
        # DataFrame writer (not toJSON().collect(): the RDD conversion
        # bypasses the micro-batch's state-commit path on stateful
        # plans) serializes rows executor-side.
        staging = os.path.join(
            path, f".stage-{batch_id:08d}-{os.getpid()}"
        )
        try:
            # The staging dir is deleted after the merge, so its _SUCCESS
            # marker is never read; skip writing it (a create plus its .crc).
            batch_df.write.mode("overwrite").option(
                "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
            ).json(staging)
            if os.path.exists(target):  # exactly-once: collection wins
                return
            lines: list[str] = []
            for fname in sorted(os.listdir(staging)):
                if fname.startswith("part-") and fname.endswith(".json"):
                    with open(os.path.join(staging, fname)) as fh:
                        lines.extend(
                            line.rstrip("\n")
                            for line in fh
                            if line.strip()
                        )
            lines.sort()
            tmp = f"{target}.tmp-{os.getpid()}"
            with open(tmp, "w") as fh:
                for line in lines:
                    fh.write(line + "\n")
            os.replace(tmp, target)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    return _write


def run_foreach_batch(
    stream_df: DataFrame,
    writer,
    *,
    output_mode: str = "append",
    timeout_sec: int = 300,
) -> None:
    """Drive a stream through a foreachBatch writer to completion."""
    q = (
        stream_df.writeStream.foreachBatch(writer)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, timeout_sec)


def to_kafka(
    stream_df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    *,
    checkpoint_dir: str,
):
    """Kafka topic sink seam (reference: README.md:41-50 materializes to
    EVENTS_IN_10_MINUTES_WINDOW). Expects `key`/`value` binary columns —
    serialize with `to_avro`/`to_json` upstream. Untestable here (no
    broker); returns the started query on a real deployment."""
    return (
        stream_df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
