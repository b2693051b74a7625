"""Seeded load generator for the serve workloads.

Events are shaped like the reference's ``events`` topic: ``event_id``,
``user_id``, ``ts`` and ``event`` (one of the four Markov states of the
reference generator, or ``other``). Users are Zipf-skewed. Each file covers
one slice of event time; an event may fall up to ``disorder_s`` before its
slice, so disorder is bounded and, because ``disorder_s`` is below the
pipeline's 2-minute watermark delay, no on-time event is ever dropped.

The users table carries ``c_mktsegment`` values the frozen ``bot_detector``
model was trained on. Every table is a pure function of (shape, seed, file
index), so the same seed writes byte-identical parquet files.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MARKOV_STATES = ("main_page", "products_listing", "product_page", "product_gallery")
EVENTS = MARKOV_STATES + ("other",)
EVENT_WEIGHTS = (0.35, 0.3, 0.15, 0.1, 0.1)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

EPOCH_US = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z
DAY_US = 86_400_000_000

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("user_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("event", pa.string()),
    ]
)


@dataclass(frozen=True)
class StreamShape:
    users: int
    files: int
    events_per_file: int
    slice_s: int
    disorder_s: int = 60
    late_events: int = 0
    zipf_s: float = 1.1


def users_table(shape: StreamShape, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    seg = rng.integers(0, len(SEGMENTS), shape.users)
    return pa.table(
        {
            "u_id": pa.array(np.arange(shape.users, dtype=np.int64)),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in seg]),
        }
    )


def _user_weights(shape: StreamShape, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, shape.users + 1, dtype=np.float64)
    w = ranks ** -shape.zipf_s
    return rng.permutation(shape.users).astype(np.int64), w / w.sum()


def _events(rng, shape, seed, n, first_id, ts_us) -> pa.Table:
    ids, p = _user_weights(shape, seed)
    users = rng.choice(ids, size=n, p=p)
    kinds = rng.choice(len(EVENTS), size=n, p=EVENT_WEIGHTS)
    return pa.table(
        [
            pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            pa.array(users),
            pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
            pa.array([EVENTS[k] for k in kinds]),
        ],
        schema=EVENT_SCHEMA,
    )


def event_file(shape: StreamShape, seed: int, i: int) -> pa.Table:
    """The i-th on-time file: slice [i*slice_s, (i+1)*slice_s) of event time,
    each event shifted back by at most disorder_s."""
    rng = np.random.default_rng([seed, 3, i])
    n = shape.events_per_file
    lo = EPOCH_US + i * shape.slice_s * 1_000_000 - shape.disorder_s * 1_000_000
    hi = EPOCH_US + (i + 1) * shape.slice_s * 1_000_000
    ts = np.maximum(rng.integers(lo, hi, size=n), EPOCH_US)
    return _events(rng, shape, seed, n, i * n, ts)


def late_file(shape: StreamShape, seed: int) -> pa.Table:
    """The planted sliver: events timestamped one to two days before the
    stream starts, so at least one day behind its newest event."""
    rng = np.random.default_rng([seed, 4])
    n = shape.late_events
    ts = rng.integers(EPOCH_US - 2 * DAY_US, EPOCH_US - DAY_US, size=n)
    return _events(rng, shape, seed, n, shape.files * shape.events_per_file, ts)


def max_on_time_ts_us(tables: list[pa.Table]) -> int:
    return max(t.column("ts").cast(pa.int64()).to_numpy().max() for t in tables)


def write_table(table: pa.Table, path: str) -> None:
    """Write atomically: a file stream must never list a partial file, and
    Spark's file listing skips names that start with a dot."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def file_name(i: int) -> str:
    return f"part-{i:05d}.parquet"


def write_backlog(tables: list[pa.Table], out_dir: str) -> list[str]:
    """Write files with ascending mtimes (the file source admits files
    oldest-mtime first), in list order."""
    os.makedirs(out_dir, exist_ok=True)
    base = time.time() - len(tables) - 10
    paths = []
    for i, t in enumerate(tables):
        path = os.path.join(out_dir, file_name(i))
        write_table(t, path)
        os.utime(path, (base + i, base + i))
        paths.append(path)
    return paths


class OpenLoopWriter(threading.Thread):
    """Writes pre-built tables into ``out_dir`` on a fixed schedule that does
    not slow when the system under test slows: file k is due at
    ``t0 + k / rate_hz`` (wall clock). Records each file's due and write
    times; the system sees only the files."""

    def __init__(self, tables: list[pa.Table], names: list[str], out_dir: str,
                 rate_hz: float, t0: float):
        super().__init__(name="perfbench-load-generator", daemon=True)
        self.tables, self.names, self.out_dir = tables, names, out_dir
        self.rate_hz, self.t0 = rate_hz, t0
        self.due: dict[str, float] = {}
        self.written: dict[str, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for k, (table, name) in enumerate(zip(self.tables, self.names)):
                due = self.t0 + k / self.rate_hz
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                write_table(table, os.path.join(self.out_dir, name))
                self.due[name] = due
                self.written[name] = time.time()
        except BaseException as exc:  # surfaced by the caller after join()
            self.error = exc
