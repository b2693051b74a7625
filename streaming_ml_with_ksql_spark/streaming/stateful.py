"""Custom stateful streaming operators (``applyInPandasWithState``).

KSQL's windowed tables keep per-key state in a RocksDB store updated one
record at a time (reference: README.md:41-50 runs on Kafka Streams window
stores). Spark's built-in windowed aggregation covers that case
(queries.hopping_window_stream); this module is the *extension point* the
reference never had — arbitrary per-key state machines with event-time
timeouts, expressed over Arrow-batched pandas groups:

- ``sessionize_stream``: gap-based sessionization emitting *closed*
  sessions (the stateful twin of operators.windows.session_window_agg);
- ``latest_per_key_stateful``: changelog compaction as an explicit state
  machine — emits a key's row only when it changes (delta stream), unlike
  the agg-based operators.dedup.latest_per_key, which re-emits per
  micro-batch.

Scale notes: state lives in the executor state store partitioned by key
(HDFS/RocksDB-backed); each micro-batch ships only the touched groups
through Arrow. Event-time timeouts bound state: a key idle past the
watermark is flushed and evicted — no unbounded growth on 100 TB replays.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "sessionize_stream",
    "latest_per_key_stateful",
    "threshold_alert_stream",
    "transition_pairs_stream",
    "wallet_balance_stream",
    "cdc_delta_agg_stream",
]

_US = 1_000_000


def _parse_duration_seconds(s: str) -> int:
    qty, unit = s.split()
    unit = unit.rstrip("s")
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit]
    return int(qty) * mult


def sessionize_stream(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Gap-based sessionization with explicit state + event-time timeout.

    One state cell per key: (session_start, last_ts, n_events). A batch's
    rows are sessionized in-order inside pandas (sessions fully closed
    within the batch emit immediately); the trailing open session persists
    in state with timeout = last_ts + gap, and is emitted when the
    watermark passes that point (sessions still open at end-of-stream stay
    unflushed — the same "only closed sessions are final" contract as
    append-mode session_window aggregation).

    Output: (key, session_start, session_end, n_events) where session_end
    is the last event's timestamp.
    """
    gap_sec = _parse_duration_seconds(gap)
    key_field = events.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
        ]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def emit(start_us: int, end_us: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    key_col: [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield emit(start_us, last_us, n)
            return

        ts_us = pd.concat([pdf[ts_col] for pdf in pdfs]).astype("int64") // 1000
        ts_us = ts_us.sort_values().to_numpy()
        cur = (state.get if state.exists else None)
        for t in ts_us:
            t = int(t)
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] < gap_sec * _US:
                # Strict <: session_window treats [start, last+gap) as
                # half-open, so an event exactly `gap` after its predecessor
                # starts a NEW session (matches the batch oracle).
                cur = (cur[0], max(cur[1], t), cur[2] + 1)
            else:
                yield emit(*cur)
                cur = (t, t, 1)
        state.update(cur)
        # Flush when the watermark passes last_ts + gap. Spark fires a
        # timeout strictly AFTER its timestamp, while the batch oracle closes
        # a session when watermark >= last+gap — the -1ms makes the stream
        # fire on >= too. Spark also requires the timeout to sit strictly
        # beyond the current watermark.
        timeout_ms = max(
            cur[1] // 1000 + gap_sec * 1000 - 1, state.getCurrentWatermarkMs() + 1
        )
        state.setTimeoutTimestamp(timeout_ms)

    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def latest_per_key_stateful(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    payload_cols: tuple[str, ...],
    tiebreak_col: str | None = None,
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Changelog compaction as an explicit state machine: emits a key's
    latest payload only when a micro-batch actually advances it (a delta
    stream — the KSQL-TABLE changelog topic, reference README.md:29),
    where the agg-based variant re-emits every touched key per batch.

    State carries (ts_us, payload JSON) — JSON keeps the state schema
    fixed regardless of payload shape; payloads are small dimension rows.
    """
    import json

    key_field = df.schema[key_col]
    out_fields = [StructField(key_col, key_field.dataType)] + [
        StructField(c, df.schema[c].dataType) for c in (ts_col, *payload_cols)
    ]
    out_schema = StructType(out_fields)
    state_schema = StructType(
        [StructField("ts_us", LongType()), StructField("payload", StringType())]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # ignore_index: Arrow chunks re-use 0..n index labels, so label-based
        # idxmax/.loc could hit duplicated labels and return frames, not rows.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        ts_us = pdf[ts_col].astype("int64") // 1000
        # Deterministic (ts, tiebreak) pick, positionally — mirrors the batch
        # latest_per_key's max_by(struct(payload), struct(ts, tiebreak)).
        if tiebreak_col is not None:
            best = int(
                pdf.assign(__ts_us=ts_us)
                .sort_values(["__ts_us", tiebreak_col], kind="stable")
                .index[-1]
            )
        else:
            best = int(ts_us.sort_values(kind="stable").index[-1])
        best_us = int(ts_us.iloc[best])
        prev_us = state.get[0] if state.exists else -1
        if best_us <= prev_us:
            return
        row = pdf.iloc[best]
        payload = {c: (None if pd.isna(row[c]) else row[c]) for c in payload_cols}
        state.update((best_us, json.dumps(payload, default=str)))
        out = {key_col: [key[0]], ts_col: [pd.Timestamp(best_us, unit="us")]}
        for c in payload_cols:
            out[c] = [row[c]]
        yield pd.DataFrame(out)

    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def threshold_alert_stream(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 day",
    min_events: int = 8,
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Per-key threshold ALERTING — the canonical monitoring state
    machine (the reference's bot-detection domain done as a stream-time
    rule instead of a model): the moment a key's trailing-``window``
    event count first reaches ``min_events``, emit ONE alert row
    (key, alert_ts, n_events) and retire the key's state.

    Exactly the semantics of the batch RANGE-frame query "first ts whose
    (t - window, t] count >= N" — which is what the DuckDB oracle
    states — so the emission set is hash-checkable on a bounded replay.
    Events sharing a timestamp are processed as one group (RANGE peers),
    so the alert count includes all of them.

    Out-of-order arrivals inside the watermark are handled exactly
    (ADVICE r5): the buffer is kept sorted, the window at position t
    counts only events <= t (a later-buffered FUTURE event never
    inflates an earlier window), every position >= the earliest new
    arrival is (re-)evaluated — a late event can create a crossing at
    an already-seen position — and eviction keeps a ``watermark_delay``
    margin beyond the window so a late event's full look-back is still
    in state.

    Scale: state per live key is at most the event timestamps inside one
    window plus the lateness margin (bounded by (window + delay) x
    per-key rate; JSON-encoded longs), and an ALERTED key's state
    collapses to a tombstone — the fleet-wide state is O(live keys),
    the same discipline as the sessionizer."""
    import json
    from bisect import bisect_right

    w_us = _parse_duration_seconds(window) * _US
    delay_us = _parse_duration_seconds(watermark_delay) * _US
    key_field = events.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField("alert_ts", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("done", LongType()), StructField("buf", StringType())]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # only non-alerted keys register timeouts (below): a buffer
            # whose newest event is a full window behind the watermark can
            # never contribute to a future crossing — drop the state.
            # Alert TOMBSTONES never time out (alert-once-EVER semantics;
            # their cost is one long per alerted key).
            state.remove()
            return
        done, buf_json = state.get if state.exists else (0, "[]")
        if done:
            return
        buf = json.loads(buf_json)
        ts_us = pd.concat([pdf[ts_col] for pdf in pdfs]).astype("int64") // 1000
        new = sorted(int(v) for v in ts_us)
        if not new:
            return
        merged = sorted(buf + new)
        # (re-)evaluate every event-time position >= the earliest new
        # arrival: a new event e only changes windows ending at t >= e,
        # and positions < e were already evaluated with final counts.
        # The window at t counts entries in (t - window, t] ONLY — a
        # buffered event newer than t (out-of-order delivery) must not
        # inflate an earlier window.
        lo_new, prev = new[0], None
        for t in merged:
            if t < lo_new or t == prev:
                prev = t
                continue
            prev = t
            cnt = bisect_right(merged, t) - bisect_right(merged, t - w_us)
            if cnt >= min_events:
                state.update((1, "[]"))  # tombstone: alert once, drop buffer
                yield pd.DataFrame(
                    {
                        key_col: [key[0]],
                        "alert_ts": [pd.Timestamp(t, unit="us")],
                        "n_events": [cnt],
                    }
                )
                return
        # evict with a lateness margin: a future event may arrive up to
        # `delay` behind the newest seen timestamp (watermark contract),
        # and its window reaches back another `window` — anything older
        # than t_max - window - delay can never be counted again.
        t_max = merged[-1]
        keep = [x for x in merged if x > t_max - w_us - delay_us]
        state.update((0, json.dumps(keep)))
        if keep:
            # state-size guard: once the watermark is a full window past
            # the buffer's newest event, no future event can share a
            # window with it — evict. (Spark requires the timeout
            # strictly beyond the current watermark; keep is sorted, so
            # keep[-1] is max(buf).)
            timeout_ms = max(
                keep[-1] // 1000 + (w_us // 1000) + 1,
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(timeout_ms)

    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def transition_pairs_stream(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Continuous (prev_type, next_type) pair emission per key — the
    streaming maintenance path of the Markov transition matrix (the
    incremental form of event_transition_matrix's lag window): each
    key's state is just its LAST event (ts, order, type); every
    micro-batch sorts the key's new events by (ts, order), chains them
    onto the stored last event, emits the consecutive pairs, and stores
    the new last event. Over an event-ordered replay the emitted pair
    multiset equals the batch lag-window's exactly, so the verified
    batch oracle applies to the drained aggregation verbatim.

    Ordering contract: within a micro-batch, (ts, order) sorting makes
    pair chaining exact regardless of shard interleaving; ACROSS
    batches the replay's per-file ts ordering preserves each key's
    sequence (an equal-ts pair split across trigger files is the only
    theoretical inversion — microsecond event times make that
    measure-zero, and the batch≡stream test would catch it loudly).

    Scale: state per key is three scalars — O(live keys) fleet-wide,
    the lightest state machine in this module (no buffers, no
    timeouts needed: a key's last event stays relevant forever by
    definition of "next transition")."""
    key_field = events.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField("prev_type", StringType()),
            StructField("next_type", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts_us", LongType()),
            StructField("last_order", LongType()),
            StructField("last_type", StringType()),
        ]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs))
        if pdf.empty:
            return
        pdf = pdf.sort_values([ts_col, order_col])
        # Preserve NULL types (r14 poison sweep): str(None) would mint
        # the literal string 'None', which the drained aggregation then
        # groups as a REAL event type — two phantom groups vs the batch
        # lag oracle on a NULL-typed poison event. A None prev (whether
        # "no state yet" or "last event's type was NULL") is dropped at
        # emission below, exactly matching the batch twin's
        # lag + prev_type IS NOT NULL contract; (A, NULL) pairs emit.
        types = [
            None if t is None or (isinstance(t, float) and pd.isna(t)) else str(t)
            for t in pdf[type_col]
        ]
        if state.exists:
            _, _, last_type = state.get
            prevs = [last_type] + types[:-1]
        else:
            prevs = [None] + types[:-1]
        tail = pdf.iloc[-1]
        state.update(
            (
                int(pd.Timestamp(tail[ts_col]).value // 1000),
                int(tail[order_col]),
                types[-1],
            )
        )
        rows = [
            (key[0], p, n) for p, n in zip(prevs, types) if p is not None
        ]
        if rows:
            yield pd.DataFrame(
                rows, columns=[key_col, "prev_type", "next_type"]
            )

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def wallet_balance_stream(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    delta_col: str = "dv",
) -> DataFrame:
    """Continuously-maintained clamped wallet balance per key — the
    streaming form of the clamp recurrence b_t = max(0, b_{t-1} + d_t)
    (the batch twin computes it via the prefix-min identity;
    registry q10 clamped_running_balance). Each key's state is its
    CURRENT balance plus the last (ts, order) seen; every micro-batch
    sorts the key's new deltas by (ts, order), folds them through the
    recurrence from the stored balance, and emits ONE increment row
    (n new transactions, the batch's peak post-transaction balance,
    clamp hits). All three emissions are merge-able (sum / max / sum),
    so the drained stream aggregates to EXACTLY the batch summary and
    the verified batch oracle applies verbatim: every post-transaction
    balance occurs inside some batch fold, so max-of-batch-peaks is the
    global peak.

    Ordering contract: same as transition_pairs_stream — (ts, order)
    sorting within a batch; the replay's per-file ts ordering preserves
    each key's sequence across batches.

    Scale: state per key is three scalars (balance, last ts, last
    order) — O(live keys) fleet-wide, no buffers, no timeout needed (a
    wallet stays live by definition)."""
    key_field = events.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField("n_tx", LongType()),
            StructField("peak", LongType()),
            StructField("clamp_hits", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts_us", LongType()),
            StructField("last_order", LongType()),
            StructField("bal", LongType()),
        ]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs))
        if pdf.empty:
            return
        pdf = pdf.sort_values([ts_col, order_col])
        bal = state.get[2] if state.exists else 0
        peak, hits, n = None, 0, 0
        for dv in (int(v) for v in pdf[delta_col]):
            bal = bal + dv
            if bal < 0:
                bal = 0
            if bal == 0 and dv < 0:
                hits += 1
            peak = bal if peak is None or bal > peak else peak
            n += 1
        tail = pdf.iloc[-1]
        state.update(
            (
                int(pd.Timestamp(tail[ts_col]).value // 1000),
                int(tail[order_col]),
                int(bal),
            )
        )
        yield pd.DataFrame(
            [(key[0], n, peak, hits)],
            columns=[key_col, "n_tx", "peak", "clamp_hits"],
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cdc_delta_agg_stream(
    changes: DataFrame,
    *,
    key_col: str = "c_custkey",
    ts_col: str = "ts",
    op_col: str = "__op",
    cents_col: str = "cents",
) -> DataFrame:
    """Incremental AGGREGATE maintenance over a flattened CDC changelog
    — the materialized-view delta algebra (insert: +1/+v, update:
    +(new-old), delete: -1/-old) as a per-key state machine. The
    flattened Debezium replay carries no before-image on updates, so
    the OLD value lives in state (one BIGINT + liveness per key); each
    micro-batch folds the key's changes in ts order and emits ONE
    additive increment row (d_n, d_sum). Summing the drained increments
    yields exactly the aggregate of the post-state table — which is
    what the oracle states — without ever re-scanning the snapshot:
    the O(changes) maintenance path a 100 TB warehouse needs, vs
    cdc_snapshot's O(table) recompute.

    Scale: state per key is two scalars; emissions are one row per
    (key, batch) — both additive and order-insensitive ACROSS keys."""
    key_field = changes.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField("d_n", LongType()),
            StructField("d_sum", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("alive", LongType()), StructField("bal", LongType())]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs))
        if pdf.empty:
            return
        pdf = pdf.sort_values([ts_col, op_col])
        alive, bal = state.get if state.exists else (0, 0)
        d_n, d_sum = 0, 0
        for op, cents in zip(pdf[op_col], pdf[cents_col]):
            if op == "d":
                if alive:
                    d_n -= 1
                    d_sum -= bal
                    alive, bal = 0, 0
            else:
                v = int(cents)
                if alive:
                    d_sum += v - bal
                else:
                    d_n += 1
                    d_sum += v
                alive, bal = 1, v
        state.update((int(alive), int(bal)))
        yield pd.DataFrame(
            [(key[0], d_n, d_sum)], columns=[key_col, "d_n", "d_sum"]
        )

    return changes.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kmv_stream(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    id_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """Continuously-maintained KMV distinct-count sketch per key — the
    streaming twin of the batch kmv_distinct_users query (registry q12):
    state per key is the sorted set of the k smallest 28-bit md5 hashes
    seen so far (stored as one comma-joined string — O(k) bytes per key,
    independent of cardinality, the mergeability that makes KMV a
    sketch). Each micro-batch unions its new hashes in, truncates to k,
    and emits the key's updated (m, kth, estimate) with a monotone
    update sequence so the drained stream's LAST emission per key is the
    final sketch — which equals the batch sketch EXACTLY, because min-k
    of a union is order- and batching-insensitive.

    Hash contract: int(md5('kmv:' || id)[:7 hex], 16) % 2^28 — the same
    content-free md5 idiom as the batch side, evaluated here in Python
    (hashlib) and there in Catalyst (conv(substring(md5(..)))), equal by
    construction on the decimal string form of the id."""
    import hashlib

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("seq", LongType()),
            StructField("m", LongType()),
            StructField("kth", LongType()),
            StructField("est", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("seq", LongType()), StructField("mins", StringType())]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs))
        ids = pdf[id_col].dropna()
        if ids.empty and not state.exists:
            return
        seq, mins = (state.get if state.exists else (0, ""))
        cur = set(int(v) for v in mins.split(",") if v != "")
        for uid in ids:
            h = (
                int(
                    hashlib.md5(f"kmv:{int(uid)}".encode()).hexdigest()[:7],
                    16,
                )
                % 268435456
            )
            cur.add(h)
        lo = sorted(cur)[:k]
        seq += 1
        state.update((seq, ",".join(str(v) for v in lo)))
        m = len(lo)
        kth = lo[-1] if lo else 0
        est = m if m < k else (k - 1) * 268435456 // max(kth, 1)
        yield pd.DataFrame(
            [(key[0], seq, m, kth, est)],
            columns=[key_col, "seq", "m", "kth", "est"],
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
