"""``query_batch``: a closed loop with one client over the reference's KSQL
runbook in batch, the registered ``ksql_runbook_predictions``: scan edge
(``io.load_table``), KSQL compat layer, hopping aggregate, users join and
``ml.predict`` scoring, all JVM codegen except the scoring UDF.

For each request the loop builds the query (calls the registered function),
executes it by computing its digest, checks the digest against the one
stored in ``digests.json`` and clears the SQL cache. ``latency_p50_ms`` is
the median request time and ``cpu_s`` the median CPU time of a request. The
window runs at least MIN_PASSES requests. The testdata is read-only, so the
seed changes nothing in this workload's input.

A request is about 2,300 Py4J calls into driver-side planning, so its time
follows the JVM's JIT warm-up: on a 4-vCPU VM it falls from about 2.3 s to
1.6 s over the first dozen requests of a JVM and only slowly after that. WARMUP_PASSES
untimed requests after the set-ups put the window past the steep part, so
the median does not depend on how far warm-up got.
"""

from __future__ import annotations

import json
import os
import sys
import time

import lib

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS_PATH = os.path.join(HERE, "digests.json")

QUERIES = ("ksql_runbook_predictions",)
MIN_PASSES = 6
WARMUP_PASSES = 8


def reset(spark) -> None:
    """Drop memory-sink views and cached frames between queries, so every
    query pays for its own intra-query persists."""
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith("reg_stream_"):
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()


def run_query(run, fn, name: str, rid: str, want: dict) -> dict:
    spark, tracer = run.spark, run.tracer
    ok, why = False, None
    t0 = time.time()
    t1 = t2 = t0
    try:
        with tracer.span("registry.query", rid=rid):
            with tracer.span("registry.build"), tracer.job_group(spark, f"build:{name}"):
                df = fn(spark, DATA_DIR)
            t1 = time.time()
            with tracer.span("registry.exec"), tracer.job_group(spark, f"exec:{name}"):
                got = lib.digest(df)
            t2 = time.time()
        ok = [got[0], got[1]] == [want["rows"], want["hash"]]
        if not ok:
            why = f"{name}: digest {got} != stored {want}"
    except Exception as exc:  # a failed query is counted, not fatal
        why = f"{name}: {type(exc).__name__}: {exc}"
        t2 = time.time()
    reset(spark)
    return {"name": name, "ok": ok, "why": why, "build_s": t1 - t0,
            "exec_s": t2 - t1, "s": t2 - t0}


def batch(run) -> dict:
    with open(DIGESTS_PATH) as fh:
        digests = json.load(fh)["digests"]

    def one_pass(tag: str) -> dict:
        from streaming_ml_with_ksql_spark import registry

        qs = registry.queries()
        cpu0 = run.sampler.cpu_s()
        done = [run_query(run, qs[n], n, f"{tag}:{n}", digests[n]) for n in QUERIES]
        return {"cpu_s": run.sampler.cpu_s() - cpu0, "queries": done}

    def setup(i: int, last: bool) -> None:
        from streaming_ml_with_ksql_spark.ml import predict

        predict.clear_model_cache()
        predict.resolve_model("bot_detector")
        one_pass(f"warm{i}")

    run.setups(setup)
    for k in range(WARMUP_PASSES):
        one_pass(f"warmup{k}")
    passes = []
    run.begin_window()
    t_stop = time.time() + run.seconds
    while time.time() < t_stop or len(passes) < MIN_PASSES:
        passes.append(one_pass(f"pass{len(passes)}"))
    run.end_window()

    done = [q for p in passes for q in p["queries"]]
    print(f"perfbench: request s {[round(q['s'], 2) for q in done]}", file=sys.stderr)
    bad = [q for q in done if not q["ok"]]
    per_query = {n: lib.median([q["s"] for q in done if q["name"] == n]) for n in QUERIES}
    e2e = {
        "latency_p50_ms": sum(per_query.values()) * 1000,
        "cpu_s": lib.median([p["cpu_s"] for p in passes]),
    }
    layers = {}
    if run.tracer.enabled:
        units = len(passes)
        layers["registry.build_s"] = sum(q["build_s"] for q in done) / units
        layers["registry.exec_s"] = sum(q["exec_s"] for q in done) / units
        layers.update({f"registry.{n}_s": s for n, s in per_query.items()})
    return {"attempted": len(done), "failed": len(bad), "correct": not bad,
            "why": bad[0]["why"] if bad else None, "e2e": e2e, "layers": layers,
            "units": len(passes)}
