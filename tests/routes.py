"""Route checks for the kernel-vs-distributed parity tests.

An operator's route is a function of its input alone, so a test forces the
distributed twin by patching the module constant that bounds the kernel,
and asserts the route it got: a parity test that skips that check could
compare the distributed path with itself.
"""

from __future__ import annotations

import re

from streaming_ml_with_ksql_spark.operators import clustering, graph

# The DBSCAN kernel's distributed twin calls connected_components, whose
# own kernel is bounded too.
DBSCAN_BOUNDS = [
    (clustering, "DBSCAN_SINGLE_TASK_MAX_ROWS"),
    (graph, "CC_SINGLE_TASK_MAX_EDGES"),
]


def has_kernel(df) -> bool:
    """True iff ``df``'s optimized plan runs a mapInPandas kernel."""
    return "MapInPandas" in df._jdf.queryExecution().optimizedPlan().toString()


def _frames(out) -> tuple:
    return out if isinstance(out, tuple) else (out,)


def kernel_and_distributed(monkeypatch, bounds, build):
    """``(build(), build())``: the first at the default bounds, the second
    with every ``(module, constant)`` in ``bounds`` patched to 0. Asserts
    that each frame of the first runs a kernel and none of the second's
    does. ``build`` returns a DataFrame or a tuple of them."""
    fast = build()
    with monkeypatch.context() as m:
        for module, constant in bounds:
            m.setattr(module, constant, 0)
        slow = build()
    assert all(has_kernel(df) for df in _frames(fast)), "fast side took no kernel"
    assert not any(has_kernel(df) for df in _frames(slow)), "slow side took a kernel"
    return fast, slow


_CC_LINE = re.compile(r"connected_components path=(\w+) rounds=(\d+) edges=(\d+)")


def cc_runs(caplog) -> list[tuple[str, int]]:
    """(path, rounds) of every connected_components call ``caplog`` saw
    at INFO on the graph module's logger."""
    return [(p, int(r)) for p, r, _ in _CC_LINE.findall(caplog.text)]
