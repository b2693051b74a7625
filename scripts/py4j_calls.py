"""Py4J round trips of one registry build.

Builds the named registry query and runs it once to warm the process (JVM
classes, the model cache, parquet footers), then builds it again without
running it and counts every command Python sends to the JVM during that
second build. py4j's ``GatewayClient.send_command`` is wrapped for the
count; object-release messages, which Python's garbage collector sends
whenever it frees a JVM handle, are left out.

It prints the total, then one row per package function that was on the
stack: ``self`` counts the calls it made itself (it was the innermost
package frame), ``incl`` the calls made while it was anywhere on the
stack. The table is sorted by ``incl``.

Usage: python scripts/py4j_calls.py <query> [--sf DIR]
(DIR: a testdata scale-factor directory; default the sf0.01 one the tests
use)
"""

from __future__ import annotations

import collections
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j import java_gateway, protocol  # noqa: E402

import streaming_ml_with_ksql_spark as pkg  # noqa: E402
from bench import _reset_state, _run  # noqa: E402
from streaming_ml_with_ksql_spark import registry  # noqa: E402
from streaming_ml_with_ksql_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_MEDIUM  # noqa: E402

_PKG = os.path.dirname(os.path.abspath(pkg.__file__))
_RELEASE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


def count_calls(build):
    """Run ``build()`` and return its Py4J round trips: the total and, per
    package function, the self and inclusive Counters."""
    own, incl = collections.Counter(), collections.Counter()
    total = 0
    send = java_gateway.GatewayClient.send_command

    def counting(client, command, *args, **kwargs):
        nonlocal total
        if not command.startswith(_RELEASE):
            total += 1
            frames = []
            f = sys._getframe(1)
            while f is not None:
                if f.f_code.co_filename.startswith(_PKG):
                    rel = os.path.relpath(f.f_code.co_filename, _PKG)
                    frames.append(f"{rel}:{f.f_code.co_qualname}")
                f = f.f_back
            if frames:
                own[frames[0]] += 1
                incl.update(set(frames))
        return send(client, command, *args, **kwargs)

    java_gateway.GatewayClient.send_command = counting
    try:
        build()
        return total, own, incl
    finally:
        java_gateway.GatewayClient.send_command = send


def main() -> int:
    args = sys.argv[1:]
    sf_dir = SF_MEDIUM
    if "--sf" in args[:-1]:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if len(args) != 1:
        print(__doc__.rsplit("Usage:", 1)[1].strip(), file=sys.stderr)
        return 2
    query = registry.queries()[args[0]]
    spark = get_spark(app_name="py4j-calls")
    _run(query(spark, sf_dir))
    _reset_state(spark)
    total, own, incl = count_calls(lambda: query(spark, sf_dir))
    spark.stop()

    print(f"{args[0]} at {sf_dir}: {total} Py4J calls in one warm build\n")
    print("| function | self | incl |\n|---|---|---|")
    for fn, n in incl.most_common():
        print(f"| {fn} | {own[fn]} | {n} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
