"""Pieces the workloads share: the operation record, the CPU clock of the
process tree, cache clearing, directory sizes, the report file name and
order-insensitive row comparison."""

from __future__ import annotations

import gc
import hashlib
import math
import os
import sys
import time
import traceback
from dataclasses import dataclass
from decimal import Decimal


REPORT_NAME = "perfbench-report-{workload}-{seed}-{kind}.json"


@dataclass
class Op:
    """One timed operation: an expansion batch, a request or a registry query.
    `cpu_s` is the process tree's CPU time over the same window."""
    kind: str
    seconds: float
    cpu_s: float = 0.0
    ok: bool = True
    rows: int = 0


class Timer:
    """Wall and tree-CPU clocks started together; `stop()` returns the
    (wall, cpu) seconds since the start."""

    def __init__(self):
        self.c0 = tree_cpu_s()
        self.t0 = time.perf_counter()

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        return wall, tree_cpu_s() - self.c0


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    me, parent = os.getpid(), {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = [], [me]
    while frontier:
        frontier = [c for c, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM,
    the Python workers and, through cutime/cstime, their reaped children)."""
    ticks = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def record_failure(failures: list[str], what: str, e: Exception) -> None:
    """A failed operation is counted, not fatal: keep its message for the
    report and its traceback on stderr."""
    failures.append(f"{what} raised {type(e).__name__}: {e}")
    traceback.print_exception(e, file=sys.stderr)


def clear_caches(spark) -> None:
    """Drop cached tables and checkpointed blocks so no pass reads data a
    previous pass materialized."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith((".", "_")))
    return total


def digest(values) -> str:
    h = hashlib.sha256()
    for v in sorted(values):
        h.update(str(v).encode())
        h.update(b"\n")
    return h.hexdigest()


def _norm(v):
    """Spark and DuckDB values in one comparable form: floats to 9 digits,
    structs (Spark Row, DuckDB dict) and maps as sorted items, binary as bytes."""
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (float, Decimal)):
        return None if math.isnan(v) else round(float(v), 9)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def row_set(cols, rows) -> list[tuple]:
    """Rows as column-name-sorted, normalized tuples in a NULL-safe total order."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((v is not None, str(type(v)), str(v)) for v in t),
    )
