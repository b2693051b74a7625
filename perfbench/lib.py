"""Shared pieces of the benchmark: statistics, output digests, the
process-tree resource sampler and the Spark session life cycle."""

from __future__ import annotations

import math
import os
import re
import statistics
import threading
import time

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (0 < q < 1). Refuses a percentile with fewer
    than ten samples beyond it, because such a tail figure is one or two
    unlucky samples rather than a measurement."""
    if not 0 < q < 1:
        raise ValueError(f"percentile must lie in (0, 1): {q}")
    n = len(values)
    rank = math.ceil(q * n)
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; "
            f"{n} samples leave {max(n - rank, 0)}"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def digest(df) -> tuple[int, str]:
    """Row count plus the DECIMAL(38,0) sum of xxhash64 over every column.

    Hashing every column forces the full output width (a bare count lets
    Catalyst prune expensive columns); the decimal sum cannot overflow the
    way a BIGINT sum does under ANSI mode. Column order is part of the
    digest, so both sides of a comparison must select the same order."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"] if row["h"] is not None else 0)


# ---------------------------------------------------------------- /proc ----

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, float, int, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes, start ticks) of
    one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17,
    # starttime=22, rss=24
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _CLK
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss, int(fields[19])


def process_tree(root: int | None = None) -> dict[int, tuple[float, int, int]]:
    """pid -> (cpu s, rss bytes, start ticks) for ``root`` and all its
    descendants."""
    root = root or os.getpid()
    stats: dict[int, tuple[int, float, int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _read_stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


class TreeSampler(threading.Thread):
    """One thread that samples the process tree (this driver, the JVM and
    its Python workers) from /proc: CPU seconds on demand, peak RSS since
    the last reset. Processes that exit are reaped by a parent inside the
    tree, whose cumulative child time then carries their CPU."""

    def __init__(self, interval_s: float = 0.1):
        super().__init__(name="perfbench-proc-sampler", daemon=True)
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._peak = 0
        self._halt = threading.Event()
        self.seen: dict[int, int] = {}  # pid -> start ticks

    def cpu_s(self) -> float:
        return sum(cpu for cpu, _, _ in process_tree().values())

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_rss_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def run(self) -> None:
        while not self._halt.is_set():
            tree = process_tree()
            rss = sum(r for _, r, _ in tree.values())
            with self._lock:
                self._peak = max(self._peak, rss)
                self.seen.update((p, start) for p, (_, _, start) in tree.items())
            self._halt.wait(self.interval_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


# ------------------------------------------------------------- session ----

def start_session():
    from streaming_ml_with_ksql_spark.session import get_spark

    return get_spark(app_name="perfbench")


def set_jvm_props(spark, props: dict[str, str | None]) -> None:
    """Java system properties named ``spark.*`` seed the SparkConf of every
    SparkContext started later in this JVM (None clears one)."""
    system = spark.sparkContext._jvm.java.lang.System
    for k, v in props.items():
        if v is None:
            system.clearProperty(k)
        else:
            system.setProperty(k, v)


def shutdown(spark, sampler: TreeSampler | None) -> None:
    """Stop Spark, then the JVM, and wait until every process the run
    started has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    seen: dict[int, int] = {}
    if sampler is not None:
        sampler.stop()
        seen = {p: s for p, s in sampler.seen.items() if p != os.getpid()}
    deadline = time.time() + 30
    while seen and time.time() < deadline:
        # a pid counts as gone once it is free or reused by a new process
        seen = {p: s for p, s in seen.items()
                if (_read_stat(p) or (0, 0, 0, None))[3] == s}
        if seen:
            time.sleep(0.1)
