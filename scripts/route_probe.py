"""Route table: which path every gated query takes, read from the engine's
own decision log lines.

Builds and runs (noop sink) every registered query, or the named ones, at
one scale factor, and captures the INFO lines that ``operators.sizing``
and ``operators.graph`` write for each decision:

- ``single_task name=... path=... feed=...``: kernel route and its feed
- ``fan_out width=...``: the round-robin width ahead of a Python stage
- ``connected_components path=... rounds=...``: kernel or star loop
- ``materialize why=...``: every lineage cut

It prints a markdown table with one row per query that reached a
single-task gate (query, kernels and feed, fan-out widths, cc path and
rounds), then the materialize tally: each ``why`` with its call count and
the queries that reached it. Nothing is patched; the routes are the ones
a normal run takes.

Usage: python scripts/route_probe.py [query ...] --sf DIR
(DIR: a testdata scale-factor directory, e.g. the sf0.1 one)
"""

from __future__ import annotations

import collections
import logging
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _reset_state, _run  # noqa: E402
from streaming_ml_with_ksql_spark import registry  # noqa: E402
from streaming_ml_with_ksql_spark.session import get_spark  # noqa: E402

LOGGERS = (
    "streaming_ml_with_ksql_spark.operators.sizing",
    "streaming_ml_with_ksql_spark.operators.graph",
)
_GATE = re.compile(r"^single_task name=(\S+) path=(\S+) .*?(?:feed=(\S+))?$")
_FAN = re.compile(r"^fan_out width=(\d+)")
_CC = re.compile(r"^connected_components path=(\S+) rounds=(\d+)")
_CUT = re.compile(r"^materialize why=(.*) eager=")


class _Lines(logging.Handler):
    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.lines: list[str] = []

    def emit(self, record: logging.LogRecord) -> None:
        self.lines.append(record.getMessage())


def _route(lines: list[str]) -> dict:
    gates, kernels, widths, cc, cuts = 0, [], [], [], []
    for ln in lines:
        if m := _GATE.match(ln):
            gates += 1
            if m.group(2) == "kernel":
                kernels.append(f"{m.group(1)} {m.group(3)}")
        elif m := _FAN.match(ln):
            widths.append(int(m.group(1)))
        elif m := _CC.match(ln):
            cc.append(f"{m.group(1)} {m.group(2)}")
        elif m := _CUT.match(ln):
            cuts.append(m.group(1))
    return {
        "gates": gates,
        "kernels": ", ".join(kernels) or "distributed",
        "widths": widths,
        "cc": ", ".join(cc) or "-",
        "cuts": cuts,
    }


def main() -> int:
    args = sys.argv[1:]
    if "--sf" not in args[:-1]:
        print(__doc__.rsplit("Usage:", 1)[1].strip(), file=sys.stderr)
        return 2
    i = args.index("--sf")
    sf_dir = args[i + 1]
    del args[i : i + 2]
    handler = _Lines()
    for name in LOGGERS:
        logger = logging.getLogger(name)
        logger.setLevel(logging.INFO)
        logger.addHandler(handler)
    spark = get_spark(app_name="route-probe")
    qs = registry.queries()
    names = args or list(qs)
    routes, failed = {}, {}
    for name in names:
        handler.lines.clear()
        try:
            _run(qs[name](spark, sf_dir))
        except Exception as e:  # keep probing; report at the end
            failed[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:120]}"
        routes[name] = _route(handler.lines)
        print(f"probed {name}", file=sys.stderr, flush=True)
        _reset_state(spark)
    spark.stop()

    print(f"Routes at {sf_dir}\n")
    print("| gated query | kernels, feed | fan-out widths | cc path, rounds |")
    print("|---|---|---|---|")
    for name, r in routes.items():
        if r["gates"]:
            print(f"| {name} | {r['kernels']} | {r['widths']} | {r['cc']} |")
    reached = collections.defaultdict(list)
    for name, r in routes.items():
        for why in r["cuts"]:
            reached[why].append(name)
    print("\n| materialize why | calls | queries |\n|---|---|---|")
    for why in sorted(reached):
        qnames = sorted(set(reached[why]))
        print(f"| {why} | {len(reached[why])} | {', '.join(qnames)} |")
    for name, err in failed.items():
        print(f"FAILED {name}: {err}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
