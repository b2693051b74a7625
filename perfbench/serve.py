"""``serve_steady``: the reference's serving path, driven through the
package's public functions: parquet file stream -> 10m/2m hopping aggregate
(2-minute watermark) -> projection onto the ``bot_detector`` signature ->
LEFT JOIN users -> ``ml.predict.score`` -> JSONL collection sink
(foreachBatch) on the default trigger.

An open loop: a generator thread writes one file every 1/STEADY_RATE_HZ
seconds into the running query, and each file is timed from its due time to
the return of the sink write of the micro-batch that consumed it. A planted
late file arrives last. The sink's collection is checked against its batch
twin (the hopping aggregate, join and score over the on-time events,
restricted to windows the final watermark finalized), computed outside the
timed region.

Every run also checks that the load was valid: the backlog of unconsumed
files must not grow over the window, and the generator's lag behind its
schedule must be small next to the median latency. A run that fails either
check counts every file as failed, because its latencies would measure the
queue or the generator rather than the pipeline.
"""

from __future__ import annotations

import bisect
import dataclasses
import json
import math
import os
import sys
import time
from datetime import datetime

import gen
import lib

MODEL = "bot_detector"
WATERMARK = "2 minutes"
WATERMARK_US = 120_000_000

# Open loop: 12 files/s of 100 events (1,200 events/s), 20 s of event time
# per file. The fixed cost of a micro-batch dominates at this rate, so each
# trigger takes whatever files arrived while the previous one ran and the
# backlog stays bounded (checked in every run). After the last on-time file
# comes one file of 200 events at least a day late, which the watermark must
# drop.
STEADY = gen.StreamShape(users=300, files=0, events_per_file=100, slice_s=20,
                         late_events=200)
STEADY_RATE_HZ = 12.0
STEADY_MIN_FILES = 100  # p90 needs ten samples beyond it
STEADY_PRIMING_FILES = 3
# Load validity: the later half of the window may queue at most half a
# second of arrivals more than the earlier half, and the generator's p90 lag
# may be at most this share of the median latency.
BACKLOG_SLACK_S = 0.5
MAX_LAG_SHARE = 0.2

QUIESCE_TIMEOUT_S = 60.0


def _signature(agg):
    """Hopping-aggregate counts renamed onto the model signature."""
    from pyspark.sql import functions as F

    return agg.select(
        "window_start",
        "window_end",
        "user_id",
        F.col("main_page_count").cast("int").alias("views_in_window"),
        F.col("products_listing_count").cast("int").alias("clicks_in_window"),
        F.col("product_page_count").cast("int").alias("purchases_in_window"),
        F.col("n_events").cast("int").alias("events_in_window"),
    )


def pipeline(spark, in_dir: str, users, max_files: int | None):
    from streaming_ml_with_ksql_spark.streaming import queries, source

    stream = source.stream_parquet_dir(spark, in_dir, max_files_per_trigger=max_files)
    agg = queries.hopping_window_stream(
        stream, watermark_delay=WATERMARK, event_col="event",
        event_types=gen.MARKOV_STATES,
    )
    return queries.enrich_and_score_stream(
        _signature(agg), users, dim_key="u_id", model_name=MODEL
    )


def batch_twin(spark, paths: list[str], users, watermark_us: int):
    from pyspark.sql import functions as F

    from streaming_ml_with_ksql_spark.ml import predict
    from streaming_ml_with_ksql_spark.operators import windows

    agg = windows.hopping_window_agg(
        spark.read.parquet(*paths), event_col="event", event_types=gen.MARKOV_STATES
    )
    feats = _signature(agg.filter(F.unix_micros("window_end") <= F.lit(watermark_us)))
    joined = feats.join(F.broadcast(users), feats["user_id"] == users["u_id"], "left")
    return predict.score(joined, MODEL)


def sink_rows(sink_dir: str) -> int:
    n = 0
    for name in os.listdir(sink_dir) if os.path.isdir(sink_dir) else ():
        if name.endswith(".jsonl"):
            with open(os.path.join(sink_dir, name)) as fh:
                n += sum(1 for _ in fh)
    return n


def sink_digest(spark, sink_dir: str, columns, schema) -> tuple[int, str]:
    if not sink_rows(sink_dir):
        return 0, "0"
    df = spark.read.schema(schema).option("pathGlobFilter", "*.jsonl").json(sink_dir)
    return lib.digest(df.select(*columns))


class TimedSink:
    """The package's JSONL collection writer, plus the return time of each
    batch's write (and, traced, a span and a job group per batch)."""

    def __init__(self, run, sink_dir: str):
        from streaming_ml_with_ksql_spark.streaming import sinks

        self.returns: dict[int, float] = {}
        inner = sinks.foreach_batch_jsonl_collection(sink_dir)
        tracer, spark = run.tracer, run.spark

        def write(df, batch_id):
            with tracer.span("streaming.sinks.write", rid=f"batch-{batch_id}"), \
                    tracer.job_group(spark, f"sink:{batch_id}"):
                inner(df, batch_id)
            self.returns[batch_id] = time.time()

        self.write = write


def consumed_files(ckpt: str) -> dict[str, int]:
    """file name -> id of the micro-batch that read it.

    The file source's metadata log numbers its own batches of discovered
    files; those ids fall behind the micro-batch ids whenever a no-data
    batch runs. The offset log maps back: micro-batch b read every source
    batch up to its end offset that an earlier micro-batch had not."""
    log_dir, off_dir = os.path.join(ckpt, "sources", "0"), os.path.join(ckpt, "offsets")
    if not os.path.isdir(log_dir) or not os.path.isdir(off_dir):
        return {}
    ends = []  # (end offset, micro-batch id)
    for name in os.listdir(off_dir):
        if name.isdigit():
            with open(os.path.join(off_dir, name)) as fh:
                lines = fh.read().splitlines()
            if len(lines) > 2 and lines[2].startswith("{"):
                ends.append((json.loads(lines[2])["logOffset"], int(name)))
    ends.sort()
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    entry = json.loads(line)
                    i = bisect.bisect_left(ends, (entry["batchId"], -1))
                    if i < len(ends):
                        out[os.path.basename(entry["path"])] = ends[i][1]
    return out


def _last_progress(query) -> dict:
    p = query.lastProgress
    if p is None:
        return {}
    return json.loads(p.json) if hasattr(p, "json") else dict(p)


def _iso_us(s: str) -> int:
    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    return int(dt.timestamp()) * 1_000_000 + dt.microsecond


def _wait_quiesced(query, sink: TimedSink, ckpt: str, names: list[str], final_wm_us: int) -> float:
    """Wait until every file was consumed, its batch's sink write returned,
    and the flush batch ran with the final watermark. Returns the sink
    return time of the last file's batch."""
    deadline = time.time() + QUIESCE_TIMEOUT_S
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        seen = consumed_files(ckpt)
        batches = [seen.get(n) for n in names]
        if None not in batches and max(batches) in sink.returns:
            p = _last_progress(query)
            wm = (p.get("eventTime") or {}).get("watermark")
            if wm and _iso_us(wm) >= final_wm_us - final_wm_us % 1000 and not p.get("numInputRows"):
                return sink.returns[max(batches)]
        time.sleep(0.02)
    raise TimeoutError("stream did not consume and flush its input in time")


def _start_query(stream_df, sink: TimedSink, ckpt: str):
    return (
        stream_df.writeStream.foreachBatch(sink.write)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )


def _users(run, d: str, shape: gen.StreamShape):
    from streaming_ml_with_ksql_spark import io

    os.makedirs(d, exist_ok=True)
    gen.write_table(gen.users_table(shape, run.seed), os.path.join(d, "users.parquet"))
    return io.load_table(run.spark, d, "users")


def _resolve_model() -> None:
    from streaming_ml_with_ksql_spark.ml import predict

    predict.clear_model_cache()
    predict.resolve_model(MODEL)


# ------------------------------------------------------------- steady ----

def steady(run) -> dict:
    n = max(STEADY_MIN_FILES, math.ceil(run.seconds * STEADY_RATE_HZ))
    total = STEADY_PRIMING_FILES + n
    shape = dataclasses.replace(STEADY, files=total)
    names = [gen.file_name(k) for k in range(total + 1)]  # the last is late
    prime, measured, late = (names[:STEADY_PRIMING_FILES],
                             names[STEADY_PRIMING_FILES:total], names[total])
    state = {}

    def setup(i: int, last: bool) -> None:
        _resolve_model()
        d = os.path.join(run.work, f"steady-{i}")
        users = _users(run, os.path.join(d, "users"), shape)
        tables = [gen.event_file(shape, run.seed, k) for k in range(total)]
        tables.append(gen.late_file(shape, run.seed))
        in_dir, ckpt = os.path.join(d, "in"), os.path.join(d, "ckpt")
        gen.write_backlog(tables[:STEADY_PRIMING_FILES], in_dir)
        sink = TimedSink(run, os.path.join(d, "sink"))
        df = pipeline(run.spark, in_dir, users, None)
        query = _start_query(df, sink, ckpt)
        _wait_quiesced(query, sink, ckpt, prime,
                       gen.max_on_time_ts_us(tables[:STEADY_PRIMING_FILES]) - WATERMARK_US)
        if last:
            state.update(tables=tables, in_dir=in_dir, ckpt=ckpt, sink=sink,
                         query=query, users=users, df=df, d=d)
        else:
            query.stop()

    run.setups(setup)
    s = state
    sink, query = s["sink"], s["query"]
    writer = gen.OpenLoopWriter(
        s["tables"][STEADY_PRIMING_FILES:], measured + [late], s["in_dir"],
        STEADY_RATE_HZ, time.time() + 0.2,
    )
    final_wm = gen.max_on_time_ts_us(s["tables"][:total]) - WATERMARK_US
    run.begin_window()
    cpu0 = run.sampler.cpu_s()
    writer.start()
    writer.join(timeout=n / STEADY_RATE_HZ + 30)
    why, end = None, None
    try:
        if writer.error is not None:
            raise RuntimeError(f"load generator failed: {writer.error}")
        end = _wait_quiesced(query, sink, s["ckpt"], measured + [late], final_wm)
    except (RuntimeError, TimeoutError) as exc:
        why = str(exc)
    cpu1 = run.sampler.cpu_s()
    run.end_window()
    query.stop()
    run.tracer.wait_terminated(1)

    seen = consumed_files(s["ckpt"])
    lat_ms = [(sink.returns[seen[f]] - writer.due[f]) * 1000
              for f in measured if seen.get(f) in sink.returns]
    lags = [(writer.written[f] - writer.due[f]) * 1000 for f in measured if f in writer.written]
    backlog = _backlog(writer, seen, sink.returns)
    attempted = n + 1
    failed = attempted - len(lat_ms) - (seen.get(late) in sink.returns)
    sink_dir = os.path.join(s["d"], "sink")
    if why is None:
        cols = s["df"].columns
        got = sink_digest(run.spark, sink_dir, cols, s["df"].schema)
        on_time = [os.path.join(s["in_dir"], f) for f in names[:total]]
        want = lib.digest(batch_twin(run.spark, on_time, s["users"], final_wm).select(*cols))
        if got != want or got[0] == 0:
            why = f"sink digest {got} != batch twin {want}"
    correct = why is None
    if why is None:
        why = _invalid_load(lat_ms, lags, backlog)
    if why is not None:
        failed = attempted
    e2e = {
        "latency_p50_ms": lib.median(lat_ms) if lat_ms else float("nan"),
        "cpu_s": cpu1 - cpu0,
    }
    p90, lag90 = (lib.percentile(v, 0.9) if len(v) >= STEADY_MIN_FILES else float("nan")
                  for v in (lat_ms, lags))
    print(f"perfbench: serve_steady latency p90 {p90:.1f} ms, generator lag p90 "
          f"{lag90:.1f} ms, backlog per batch {backlog}", file=sys.stderr)
    layers = {}
    if run.tracer.enabled:
        wall = (end or time.time()) - writer.due[measured[0]]
        trig = sum(p["durationMs"].get("triggerExecution", 0) for p in run.window_progress())
        layers.update(_stream_layers(run, units=1))
        layers.update({
            "serve.latency_p90_ms": p90,
            "gen.files": n + 1,
            "gen.events": n * shape.events_per_file + shape.late_events,
            "gen.lag_ms_p90": lag90,
            "streaming.trigger_share": trig / 1000 / wall,
            "streaming.backlog_files_max": max(backlog, default=0),
            "streaming.sinks.rows_out": sink_rows(sink_dir),
        })
    return {"attempted": attempted, "failed": failed, "correct": correct,
            "why": why, "e2e": e2e, "layers": layers, "units": 1}


def _backlog(writer, seen: dict[str, int], returns: dict[int, float]) -> list[int]:
    """Files written but not yet taken by a trigger, counted when each
    micro-batch returned from its sink write while the generator was still
    offering load, in batch order."""
    last_due = max(writer.due.values(), default=writer.t0)
    out = []
    for b, t in sorted(returns.items()):
        if not writer.t0 <= t <= last_due:
            continue
        written = sum(1 for w in writer.written.values() if w <= t)
        taken = sum(1 for f in writer.written if seen.get(f, b + 1) <= b)
        out.append(written - taken)
    return out


def _invalid_load(lat_ms: list[float], lags: list[float], backlog: list[int]) -> str | None:
    """Why the offered load was not sustained, or None if it was."""
    half = len(backlog) // 2
    if half and max(backlog[half:]) > max(backlog[:half]) + STEADY_RATE_HZ * BACKLOG_SLACK_S:
        return f"backlog grew over the window: {backlog}"
    lag, p50 = lib.percentile(lags, 0.9), lib.median(lat_ms)
    if lag > MAX_LAG_SHARE * p50:
        return f"generator lag p90 {lag:.1f} ms is not small next to latency p50 {p50:.1f} ms"
    return None


# ------------------------------------------------------ stream layers ----

def _stream_layers(run, units: int) -> dict:
    """Per-unit sums and maxima from the progress reports of the window."""
    prog = run.window_progress()
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in prog) / units  # noqa: E731
    ops = [op for p in prog for op in p.get("stateOperators", [])]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in prog]
    return {
        "streaming.batches": len(prog) / units,
        "streaming.empty_batches": sum(1 for p in prog if not p.get("numInputRows")) / units,
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in prog) / units,
        "streaming.trigger_ms_p50": lib.median(trig) if trig else 0.0,
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.state_rows_total_max": max((o.get("numRowsTotal", 0) for o in ops), default=0),
        "streaming.state_rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops) / units,
        "streaming.state_rows_removed": sum(o.get("numRowsRemoved", 0) for o in ops) / units,
        "streaming.state_rows_dropped_by_watermark":
            sum(o.get("numRowsDroppedByWatermark", 0) for o in ops) / units,
        "streaming.state_memory_mb_max":
            max((o.get("memoryUsedBytes", 0) for o in ops), default=0) / 2**20,
        "streaming.state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops) / units,
    }
