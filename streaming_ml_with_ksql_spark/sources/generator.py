"""Synthetic traffic generator — Spark-first parity with the reference's
clickstream simulator (SURVEY.md S6/S7).

The reference drives demo traffic with a Markov-chain generator
(reference: traffic-generator/generator.py:36-163): four page states
(main_page, products_listing, product_page, product_gallery), one
transition per 1-second tick, HUMANS and BOTS differing only in their
transition matrices, plus a users-profile row with random platform /
country / IPv4 (generator.py:190-215). This module re-expresses that as
deterministic DataFrame computation:

- Randomness is md5-derived per (user, tick) — reproducible regardless
  of partitioning OR ENGINE, which is what lets a DuckDB recursive CTE
  replay the exact same Markov walk and hash-check every emitted event
  (`synthetic_clickstream` in the registry). No `random.random()`
  anywhere.
- The walk itself is mapInPandas: parallel over users, sequential over
  ticks WITHIN a user — the honest shape of a Markov chain (each state
  depends on the previous one; that dependency is per-subject, so
  subjects scale out and time stays local). Arrow-batched, narrow map,
  output = users x ticks rows.
- Profiles are pure Catalyst md5 arithmetic (choice lists + IPv4 octets
  from digest bytes) — also exactly oracle-checkable.

Transition matrices (kept identical to the reference's behavior, cited
above; cumulative order = the reference's declaration order):

  humans: main->listing .8 | main->product .2 ; listing->product .9 |
          listing->main .1 ; product->gallery .4 | product->listing .6 ;
          gallery->gallery .9 | gallery->product .1
  bots:   main->listing 1.0 ; listing->product .95 | listing->main .05 ;
          product->gallery .8 | product->listing .2 ;
          gallery->gallery .6 | gallery->product .4
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "synthetic_clickstream",
    "synthetic_users_profile",
    "clickstream_stream",
    "TS_START_MS",
]

# the reference's simulation start: 2022-03-15 14:00 UTC (generator.py:43)
TS_START_MS = 1647352800000

# state -> [(threshold_on_u, next_state), ...], u in [0, 1_000_000)
_HUMAN = {
    "main_page": ((800_000, "products_listing"), (1_000_000, "product_page")),
    "products_listing": ((900_000, "product_page"), (1_000_000, "main_page")),
    "product_page": ((400_000, "product_gallery"), (1_000_000, "products_listing")),
    "product_gallery": ((900_000, "product_gallery"), (1_000_000, "product_page")),
}
_BOT = {
    "main_page": ((1_000_000, "products_listing"),),
    "products_listing": ((950_000, "product_page"), (1_000_000, "main_page")),
    "product_page": ((800_000, "product_gallery"), (1_000_000, "products_listing")),
    "product_gallery": ((600_000, "product_gallery"), (1_000_000, "product_page")),
}


def _uniform(uid: int, t: int) -> int:
    """Deterministic per-(user, tick) uniform in [0, 1e6): first 7 hex
    chars of md5('traffic:<uid>:<t>') mod 1e6 — the identical arithmetic
    the DuckDB oracle runs."""
    h = hashlib.md5(f"traffic:{uid}:{t}".encode()).hexdigest()
    return int(h[:7], 16) % 1_000_000


# One row per (user, tick), n_ticks per input user, so the walk keeps its
# own batch loop instead of sizing.map_rows.
def _walk_batches(n_ticks: int):
    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uid, is_bot in zip(pdf["user_id"], pdf["is_bot"]):
                uid = int(uid)
                matrix = _BOT if bool(is_bot) else _HUMAN
                state = "main_page"
                for t in range(1, n_ticks + 1):
                    u = _uniform(uid, t)
                    for threshold, nxt in matrix[state]:
                        if u < threshold:
                            state = nxt
                            break
                    rows.append(
                        {
                            "user_id": uid,
                            "tick": t,
                            "ts_ms": TS_START_MS + 1000 * t,
                            "event": state,
                            "is_bot": bool(is_bot),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["user_id", "tick", "ts_ms", "event", "is_bot"],
            ).astype({"tick": "int32"})

    return _batches


def synthetic_clickstream(
    spark: SparkSession,
    *,
    n_users: int = 40,
    n_bots: int = 10,
    n_ticks: int = 60,
) -> DataFrame:
    """(user_id, tick, ts_ms, event, is_bot): one event per user per
    1-second tick from the reference-shaped Markov matrices. The last
    ``n_bots`` of ``n_users`` subjects are bots (the reference runs the
    two cohorts as separate generators over one id space)."""
    subjects = spark.range(n_users).select(
        F.col("id").alias("user_id"),
        (F.col("id") >= n_users - n_bots).alias("is_bot"),
    )
    # size-aware walk fan-out (operators/sizing.py rationale): one task
    # per ~8 subjects, capped at the configured parallelism — the demo's
    # 40-user walk stops paying 32 Python-worker spin-ups, while a
    # production-size subject list still saturates every core
    n_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = max(1, min(n_max, -(-n_users // 8)))
    return subjects.repartition(parts).mapInPandas(
        _walk_batches(n_ticks),
        schema="user_id long, tick int, ts_ms long, event string, is_bot boolean",
    )


def synthetic_users_profile(spark: SparkSession, *, n_users: int = 40) -> DataFrame:
    """Deterministic users-dimension rows shaped like the reference's
    MySQL insert (generator.py:198-214): platform/country choices and
    IPv4 octets all md5-derived — pure Catalyst, exactly reproducible."""
    ids = spark.range(n_users).select(F.col("id").cast("long").alias("id"))
    h = F.md5(F.concat(F.lit("user:"), F.col("id").cast("string")))

    def nib(pos: int, width: int) -> F.Column:
        return F.conv(F.substring(h, pos, width), 16, 10).cast("long")

    platform = F.element_at(
        F.array(*[F.lit(p) for p in ("Windows", "Linux", "Android", "iOS")]),
        (nib(1, 2) % 4 + 1).cast("int"),
    )
    country = F.element_at(
        F.array(*[F.lit(c) for c in ("PL", "DE", "FR")]),
        (nib(3, 2) % 3 + 1).cast("int"),
    )
    ip = F.concat_ws(
        ".",
        (nib(5, 2)).cast("string"),
        (nib(7, 2)).cast("string"),
        (nib(9, 2)).cast("string"),
        (nib(11, 2)).cast("string"),
    )
    return ids.select(
        "id",
        F.concat(F.lit("User_"), F.col("id").cast("string")).alias("name"),
        platform.alias("platform"),
        country.alias("country"),
        ip.alias("ip_address"),
        F.lit(0).cast("int").alias("nb_orders"),
    )


def clickstream_stream(
    spark: SparkSession,
    out_dir: str,
    *,
    n_users: int = 40,
    n_bots: int = 10,
    n_ticks: int = 60,
    num_shards: int = 3,
) -> DataFrame:
    """Streaming twin: the deterministic clickstream sharded to parquet in
    tick order and replayed through the file-stream harness — the same
    events the batch generator emits, arriving as an unbounded stream
    (bind it to a KsqlCompat topic to drive the runbook end-to-end)."""
    from ..streaming import source as stream_source

    batch = synthetic_clickstream(
        spark, n_users=n_users, n_bots=n_bots, n_ticks=n_ticks
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    stream_source.shard_table_to_dir(
        batch, out_dir, num_shards=num_shards, order_col="tick"
    )
    return stream_source.stream_parquet_dir(spark, out_dir)
