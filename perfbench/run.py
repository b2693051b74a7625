"""Benchmark of the reference serving path, as a stream and as a batch runbook.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve_steady --seed 1 --seconds 10 --trace 0

Workloads (why each was chosen is in BENCHMARK.json):

- ``serve_steady``  open loop, file stream -> hopping window -> join -> score
                    -> JSONL sink on the default trigger (serve.py)
- ``query_batch``   closed loop, one client over the KSQL runbook scored in
                    batch (batch.py)

Every run sets up SETUPS times (a Spark session, the model, the inputs and
one warm pass; the first set-up also launches the JVM) and reports the
median as ``setup_s``. query_batch then runs untimed warm-up requests. The
run measures for ``--seconds`` seconds, finishing the unit of work in
flight, checks every output, and prints one JSON line last: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
last set-up and the measured window run traced (tracing.py) and the metrics
are the per-layer ones, every name present on every workload (0 where a
layer is not used). Spans go to ``.perfbench/trace/``.

End-to-end metrics: ``setup_s`` (median of the set-ups), ``latency_p50_ms``
(serve_steady: median over files of due time to sink return; query_batch:
median request time) and ``cpu_s`` (CPU time of the process tree over the
window on serve_steady, median per request on query_batch).

Which per-layer metric should move which end-to-end metric:

- session.*                 setup_s, all workloads
- io.*, ksql.*, registry.*  latency_p50_ms on query_batch
- exec.*                    latency_p50_ms, cpu_s on query_batch; cpu_s on
                            serve_steady
- ml.*                      setup_s; latency_p50_ms on serve_steady
- streaming.* (phases)      latency_p50_ms on serve_steady
- streaming.state_*         latency_p50_ms, cpu_s on serve_steady
- streaming.sinks.*         latency_p50_ms on serve_steady
- proc.peak_rss_mb          none (peak RSS of the process tree in the window)
- gen.*, serve.*, trace.*   none: validity of the load and of the trace

Every file the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "cpu_s": "s",
}

_LAYER_UNITS = {
    "session.start_s": "s",
    "proc.peak_rss_mb": "MB",
    "io.load_table_calls": "count",
    "io.load_table_s": "s",
    "ksql.statements": "count",
    "ksql.execute_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.exec_s": "s",
    "registry.exec_jobs": "count",
    "registry.materialize_calls": "count",
    "registry.materialize_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cores_busy": "cores",
    "exec.single_task_stages": "count",
    "exec.single_task_stage_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "ml.resolve_model_s": "s",
    "ml.score_calls": "count",
    "ml.score_s": "s",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_share": "ratio",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.backlog_files_max": "count",
    "streaming.state_rows_total_max": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_rows_removed": "count",
    "streaming.state_rows_dropped_by_watermark": "count",
    "streaming.state_memory_mb_max": "MB",
    "streaming.state_commit_ms": "ms",
    "streaming.sinks.write_ms": "ms",
    "streaming.sinks.write_ms_p50": "ms",
    "streaming.sinks.rows_out": "count",
    "gen.files": "count",
    "gen.events": "count",
    "gen.lag_ms_p90": "ms",
    "serve.latency_p90_ms": "ms",
    "trace.setup_overhead_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    import batch

    units = dict(_LAYER_UNITS)
    units.update({f"registry.{q}_s": "s" for q in batch.QUERIES})
    return units


class Run:
    """State of one benchmark run: arguments, the current session, the
    tracer, the resource sampler and the measured window."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        import lib
        import tracing

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.tracer = tracing.Tracer(trace)
        self.sampler = lib.TreeSampler()
        self.spark = None
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.event_log = os.path.join(work, "eventlog")
        self.win = (0.0, 0.0)

    def setups(self, setup) -> None:
        """Run ``setup(i, last)`` SETUPS times, each on a fresh SparkContext;
        traced runs trace only the last."""
        import lib
        import tracing

        for i in range(SETUPS):
            last = i == SETUPS - 1
            traced = last and self.tracer.enabled
            if self.spark is not None:
                if traced:
                    os.makedirs(self.event_log, exist_ok=True)
                    lib.set_jvm_props(self.spark, {
                        **tracing.EVENT_LOG_PROPS,
                        "spark.eventLog.dir": "file://" + self.event_log,
                    })
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = lib.start_session()
            self.session_s.append(time.perf_counter() - t0)
            if traced:
                self.tracer.install(self.spark)
            setup(i, last)
            self.setup_s.append(time.perf_counter() - t0)

    def begin_window(self) -> None:
        self.sampler.reset_peak()
        self.win = (time.time(), 0.0)

    def end_window(self) -> None:
        self.win = (self.win[0], time.time())
        self.peak_rss_mb = self.sampler.peak_rss_mb()

    def window_progress(self) -> list[dict]:
        import serve

        lo, hi = self.win
        return [p for p in self.tracer.progress
                if lo <= serve._iso_us(p["timestamp"]) / 1e6 <= hi]


def common_layers(run: Run, units: int) -> dict[str, float]:
    import lib
    import tracing

    lo, hi = run.win
    tot = run.tracer.layer_totals(lo, hi)
    every = run.tracer.layer_totals(0, hi)
    calls = lambda n: tot.get(n, (0, 0.0))[0] / units  # noqa: E731
    secs = lambda n: tot.get(n, (0, 0.0))[1] / units  # noqa: E731
    writes = [(s["end"] - s["start"]) * 1000 for s in run.tracer.spans
              if s["name"] == "streaming.sinks.write" and lo <= s["start"] <= hi]
    out = {
        "session.start_s": run.session_s[-1],
        "io.load_table_calls": calls("io.load_table"),
        "io.load_table_s": secs("io.load_table"),
        "ksql.statements": calls("ksql.execute"),
        "ksql.execute_s": secs("ksql.execute"),
        "registry.materialize_calls": calls("registry.materialize"),
        "registry.materialize_s": secs("registry.materialize"),
        "ml.resolve_model_s": every.get("ml.resolve_model", (0, 0.0))[1],
        "ml.score_calls": calls("ml.score"),
        "ml.score_s": secs("ml.score"),
        "streaming.sinks.write_ms": sum(writes) / units,
        "streaming.sinks.write_ms_p50": lib.median(writes) if writes else 0.0,
        "proc.peak_rss_mb": run.peak_rss_mb,
        # the same set-up work, traced (last) against untraced (the one
        # before), without session start
        "trace.setup_overhead_frac": ((run.setup_s[-1] - run.session_s[-1])
                                      / (run.setup_s[-2] - run.session_s[-2]) - 1),
    }
    ev = tracing.parse_event_log(run.event_log, lo, hi)
    for k, v in ev["exec"].items():
        out[f"exec.{k}"] = v if k == "cores_busy" else v / units
    out["registry.build_jobs"] = ev["jobs_by_group"].get("build", 0) / units
    out["registry.exec_jobs"] = ev["jobs_by_group"].get("exec", 0) / units
    return out


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_steady", "query_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    for need in ("streaming_ml_with_ksql_spark", os.path.join("models", "bot_detector")):
        if not os.path.isdir(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full "
                  "checkout of the repository", file=sys.stderr)
            return 2

    # Everything the run writes (temp files, Spark scratch, checkpoints,
    # sinks, event logs) stays inside the checkout.
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={work}/tmp "
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        f"--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, ROOT)

    import batch
    import lib
    import serve

    workloads = {"serve_steady": serve.steady, "query_batch": batch.batch}
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    run.sampler.start()
    t_imported = time.perf_counter()
    try:
        res = workloads[args.workload](run)
        t_done = time.perf_counter()
        if args.trace:
            layers = {k: 0.0 for k in per_layer_units()}
            layers.update(common_layers(run, res["units"]))
            layers.update(res["layers"])
            run.tracer.write_spans(os.path.join(
                base, "trace", f"{args.workload}-seed{args.seed}.spans.jsonl"))
            run.tracer.uninstall(run.spark)
    finally:
        lib.shutdown(run.spark, run.sampler)
    shutil.rmtree(work, ignore_errors=True)
    t_end = time.perf_counter()

    print(f"perfbench: run {t_end - t_start:.1f} s: import {t_imported - t_start:.1f}, "
          f"set-ups {sum(run.setup_s):.1f}, "
          f"rest of workload {t_done - t_imported - sum(run.setup_s):.1f}, "
          f"layers and shutdown {t_end - t_done:.1f}", file=sys.stderr)
    print(f"perfbench: {args.workload} set-ups {[round(x, 2) for x in run.setup_s]} s, "
          f"{res['units']} units measured", file=sys.stderr)
    if res["why"]:
        print(f"perfbench: check failed: {res['why']}", file=sys.stderr)
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": float(layers[k]), "unit": units[k]} for k in units}
    else:
        vals = dict(res["e2e"], setup_s=lib.median(run.setup_s))
        metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
