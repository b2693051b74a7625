"""Structured Streaming surface: the streaming twins of the batch
operators (SURVEY.md §2.5 W1-W5, §7 phase 5).

The reference's entire workload is continuous KSQL queries over Kafka
topics (reference: README.md:27-70). This package re-expresses that
pipeline on Spark Structured Streaming: file/Kafka stream sources,
watermarked hopping-window aggregation, latest-per-key changelog tables,
stream-static enrichment joins, model scoring, and custom stateful
operators (applyInPandasWithState).
"""

from .queries import (
    enrich_and_score_stream,
    hopping_window_stream,
)
from .sinks import foreach_batch_parquet, run_to_memory
from .source import shard_table_to_dir, stream_parquet_dir
from .stateful import latest_per_key_stateful, sessionize_stream

__all__ = [
    "enrich_and_score_stream",
    "hopping_window_stream",
    "foreach_batch_parquet",
    "run_to_memory",
    "shard_table_to_dir",
    "stream_parquet_dir",
    "latest_per_key_stateful",
    "sessionize_stream",
]
