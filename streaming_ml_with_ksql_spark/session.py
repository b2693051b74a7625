"""SparkSession factory.

Scale notes (100 TB discipline):
- ``spark.sql.session.timeZone=UTC`` is load-bearing: hopping-window grids
  (`F.window`) and `date_format` outputs must be timezone-stable so results
  match across clusters and match the DuckDB oracle.
- AQE on: runtime shuffle-partition coalescing + skew-join splitting are the
  right defaults for both local[32] and a 1000-executor cluster.
- ``spark.sql.shuffle.partitions`` defaults here to a local-friendly value;
  on a real cluster this is overridden (or left to AQE's
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
- Local masters commit streaming checkpoints through Spark's
  ``FileSystemBasedCheckpointFileManager``. Spark's default, the FileContext
  manager, resolves symlinks on every rename through
  ``RawLocalFileSystem.getFileLinkStatus``, and without libhadoop (the
  pyspark wheel ships none) each call forks ``/bin/readlink``: ~88 forks
  per serve micro-batch, for the offset and commit logs and for every
  state-store delta and checksum file. The FileSystem manager renames with
  ``File.renameTo`` and forks nothing. Nothing is checked less: Spark's
  checkpoint checksums (``spark.sql.streaming.checkpoint.fileChecksum.enabled``)
  and Hadoop's ``.crc`` sidecars are still written and verified, and on a
  local file system both managers guard against overwrite the same way,
  check then rename (``RawLocalFs.renameInternal`` vs ``exists`` +
  ``rename``). The master stands in for the checkpoint file system, which
  a session conf cannot see: every local-master caller here checkpoints
  under a local path. A local driver writing ``hdfs://`` checkpoints would
  also get the FileSystem manager, which Spark reserves for file systems
  without a FileContext; a cluster master writing ``file://`` checkpoints
  keeps the FileContext manager and its forks, slower but no less safe.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]

_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "streaming_ml_with_ksql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so bench runs and
    tests share one code path.
    """
    # Python workers unpickle package-defined (pandas) UDFs by importing
    # this package — make sure they can, even when the driver process
    # imported us via an absolute file path from a foreign cwd (the grading
    # driver does exactly that). Must happen before the JVM launches.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", "") else max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata parquet uses INT64 TIMESTAMP(NANOS) (pandas default),
        # which Spark's reader rejects; read as long and normalize in io.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Cluster-mode analog of the PYTHONPATH export above (local mode
        # inherits the driver env; real executors need it set explicitly).
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", _FS_CHECKPOINT_MANAGER
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
