"""Traced-run instrumentation, all of it from outside the package.

- Spans: name, start, end, parent and request id, kept in memory and
  written as JSON lines when the run ends.
- Wrappers around the public calls of each layer (``io.load_table``,
  ``KsqlCompat.execute``, ``ml.predict.*``, ``DataFrame.localCheckpoint`` /
  ``persist``) open a span per call; the benchmark opens spans and Spark job
  groups around builds, actions and sink writes itself.
- A ``StreamingQueryListener`` keeps every progress report.
- The Spark event log (uncompressed, not rolling) is parsed afterwards for
  jobs, stages, task time, shuffle, spill and GC.

With tracing off every entry point is a no-op, so the untraced run executes
exactly the calls a user would.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

EVENT_LOG_PROPS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.progress: list[dict] = []
        self.terminated = 0
        self._listener = None

    # ----------------------------------------------------------- spans ----
    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if rid is None and parent is not None:
            rid = parent[1]
        stack.append((sid, rid))
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": time.time(),
                     "parent": parent[0] if parent else None, "rid": rid}
                )

    @contextlib.contextmanager
    def job_group(self, spark, group: str):
        """Tag the Spark jobs launched from this thread (pinned-thread mode
        makes the local property per Python thread)."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def install(self, spark) -> None:
        """Wrap each layer's public calls and register the progress
        listener. Call once, on the traced session."""
        if not self.enabled:
            return
        from pyspark.sql import DataFrame
        from pyspark.sql.streaming import StreamingQueryListener

        from streaming_ml_with_ksql_spark import io
        from streaming_ml_with_ksql_spark.ksql.compat import KsqlCompat
        from streaming_ml_with_ksql_spark.ml import predict

        self.wrap(io, "load_table", "io.load_table")
        self.wrap(KsqlCompat, "execute", "ksql.execute")
        self.wrap(predict, "resolve_model", "ml.resolve_model")
        self.wrap(predict, "score", "ml.score")
        self.wrap(predict, "predict_arrays", "ml.score")
        self.wrap(DataFrame, "localCheckpoint", "registry.materialize")
        self.wrap(DataFrame, "persist", "registry.materialize")

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer._lock:
                    tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._lock:
                    tracer.terminated += 1

        self._listener = _Progress()
        spark.streams.addListener(self._listener)

    def uninstall(self, spark) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()
        if self._listener is not None:
            with contextlib.suppress(Exception):
                spark.streams.removeListener(self._listener)
            self._listener = None

    def wait_terminated(self, n: int, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait for the n-th query
        termination so every progress report of the window is in."""
        deadline = time.time() + timeout_s
        while self.enabled and self.terminated < n and time.time() < deadline:
            time.sleep(0.05)

    # ------------------------------------------------------- summaries ----
    def layer_totals(self, since: float, until: float) -> dict[str, tuple[int, float]]:
        """name -> (calls, seconds) for spans that started in the window.
        A span nested in another of the same name is counted once."""
        by_id = {s["id"]: s for s in self.spans}
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if not since <= s["start"] <= until:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["name"] != s["name"]:
                p = by_id.get(p["parent"])
            if p is not None:
                continue
            out[s["name"]][0] += 1
            out[s["name"]][1] += s["end"] - s["start"]
        return {k: (v[0], v[1]) for k, v in out.items()}

    def write_spans(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def parse_event_log(log_dir: str, since: float, until: float) -> dict:
    """Execution metrics of the jobs submitted in [since, until] (epoch s),
    read from the uncompressed event log of the traced context."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[tuple[int, dict]] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1000
                    if since <= t <= until:
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        jobs[ev["Job ID"]] = {"group": group.split(":")[0]}
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = info
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    done = {sid: info for sid, info in stages.items() if sid in stage_job}
    single = {sid for sid, info in done.items() if info["Number of Tasks"] == 1}
    m = defaultdict(float)
    for sid, tm in tasks:
        if sid not in done:
            continue
        run_s = tm.get("Executor Run Time", 0) / 1000
        m["tasks"] += 1
        m["task_s"] += run_s
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
        m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20
        rd = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 2**20
        m["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
        if sid in single:
            m["single_task_stage_s"] += run_s
    m["jobs"] = len(jobs)
    m["stages"] = len(done)
    m["single_task_stages"] = len(single)
    m["cores_busy"] = m["task_s"] / max(until - since, 1e-9)
    groups = defaultdict(int)
    for j in jobs.values():
        groups[j["group"]] += 1
    return {"exec": dict(m), "jobs_by_group": dict(groups)}
