"""Arithmetic and host readings shared by the workloads: percentiles,
interval unions, result comparison, /proc readings and the environment
receipt. Nothing here imports Spark, so the unit tests run without it."""

from __future__ import annotations

import math
import os
import platform
import statistics

# -- statistics ---------------------------------------------------------------


def tail_percentile(n: int) -> int:
    """The highest whole percentile, from the median up, with at least
    ten samples beyond it.

    With nearest-rank percentiles, the p-th percentile of n samples is
    the ceil(p*n/100)-th smallest, so n - ceil(p*n/100) samples lie
    beyond it. Below 20 samples not even the median has ten beyond it;
    the tail is then the slowest sample (100)."""
    for p in range(99, 49, -1):
        if n - math.ceil(p * n / 100) >= 10:
            return p
    return 100


def nearest_rank(values: list[float], p: int) -> float:
    """Nearest-rank p-th percentile (p in 1..100) of a non-empty list."""
    s = sorted(values)
    return s[max(math.ceil(p * len(s) / 100), 1) - 1]


def median_pass(timed: list[tuple[str, float]], groups: tuple[str, ...]) -> float:
    """Wall time of a typical pass: the sum over the pass's op slots of
    each slot's median latency. A burst of load from elsewhere on the
    host slows the few ops it overlaps; a per-slot median drops them
    even when they fall in different passes."""
    by_group: dict[str, list[float]] = {g: [] for g in groups}
    for group, dt in timed:
        by_group[group].append(dt)
    missing = [g for g, v in by_group.items() if not v]
    if missing:
        raise ValueError(f"no timed sample for {missing}")
    return sum(statistics.median(v) for v in by_group.values())


def union_length(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi].

    Spark stages overlap (independent stages of one job run side by
    side), so summing their durations would double count; the union is
    the time at least one stage was running."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- result comparison ----------------------------------------------------------


def _decimals(x: float) -> int | None:
    """Number of decimals (0..6) that represent ``x`` exactly, if any."""
    for k in range(7):
        if round(x, k) == x:
            return k
    return None


def floats_match(a: float, b: float) -> bool:
    """Equal up to summation order. Two values already rounded to k >= 2
    decimals may differ by one unit in the k-th decimal, because a sum
    taken in another order can land on the other side of a rounding
    boundary; anything else must agree to a relative 1e-9."""
    if a == b or (math.isnan(a) and math.isnan(b)):
        return True
    if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
        return True
    ka, kb = _decimals(a), _decimals(b)
    if ka is None or kb is None:
        return False
    return abs(a - b) <= 10.0 ** -max(ka, kb, 2) * (1 + 1e-9)


def _cell(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, int):
        return float(v)
    if isinstance(v, float):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    return str(v)


def _sort_key(row: tuple) -> tuple:
    # non-float cells sort first, so rows that differ only by a float
    # rounding flip still line up at the same position
    exact = tuple("" if x is None else str(x) for x in row
                  if not isinstance(x, float))
    floats = tuple(x for x in row if isinstance(x, float))
    return exact, floats


def canonical(rows: list[tuple], cols: list[str]) -> tuple[list[str], list[tuple]]:
    """Order-insensitive form of a result: columns sorted by lower-cased
    name, rows sorted, ints and floats unified, timestamps as ISO text."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return [cols[i].lower() for i in order], out


def _cells_match(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return floats_match(x, y)
    if isinstance(x, tuple) and isinstance(y, tuple):
        return len(x) == len(y) and all(_cells_match(a, b) for a, b in zip(x, y))
    return x == y


def results_match(got_rows: list[tuple], got_cols: list[str],
                  want_rows: list[tuple], want_cols: list[str]) -> str | None:
    """None when two results agree (same column names, same multiset of
    rows up to :func:`floats_match`), else a one-line reason."""
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != {len(want_rows)}"
    gc, g = canonical(got_rows, got_cols)
    wc, w = canonical(want_rows, want_cols)
    if gc != wc:
        return f"columns {gc} != {wc}"
    for i, (a, b) in enumerate(zip(g, w)):
        if not _cells_match(a, b):
            return f"row {i}: {a} != {b}"
    return None


# -- /proc readings ---------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_pids(jvm_pid: int) -> list[int]:
    """Python processes the JVM started (pyspark daemons and the workers
    they fork), found by walking the JVM's process tree."""
    out, todo = [], list(_children(jvm_pid))
    while todo:
        pid = todo.pop()
        if "python" in _cmdline(pid):
            out.append(pid)
        todo.extend(_children(pid))
    return out


def cpu_seconds(pid: int) -> tuple[float, float]:
    """(own, reaped): utime + stime of one process, and cutime + cstime,
    the CPU of the children it has already reaped."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0, 0.0
    # after the name: state=0 ... utime=11 stime=12 cutime=13 cstime=14
    return ((int(f[11]) + int(f[12])) / _TICK,
            (int(f[13]) + int(f[14])) / _TICK)


def pyworker_cpu_seconds(jvm_pid: int) -> float:
    """CPU used so far by the JVM's Python workers, dead or alive.

    A worker's CPU moves into its parent's cutime/cstime when the pyspark
    daemon reaps it, so summing live processes alone goes down whenever a
    worker exits. Summing every live worker plus what each has reaped
    only grows (up to a worker reaped between two reads)."""
    return sum(sum(cpu_seconds(p)) for p in python_worker_pids(jvm_pid))


def host_load() -> dict:
    """1-minute loadavg and the cumulative steal share from /proc/stat."""
    steal = total = 0
    try:
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()[1:]
        ticks = [int(x) for x in cpu]
        total, steal = sum(ticks), (ticks[7] if len(ticks) > 7 else 0)
    except (OSError, ValueError):
        pass
    return {"loadavg_1m": os.getloadavg()[0], "steal_ticks": steal,
            "total_ticks": total}


def steal_pct(start: dict, end: dict) -> float:
    dt = end["total_ticks"] - start["total_ticks"]
    return 100.0 * (end["steal_ticks"] - start["steal_ticks"]) / dt if dt > 0 else 0.0


def environment(spark, seed: int, workload: str, inputs: str,
                load_start: dict, load_end: dict) -> dict:
    """The receipt printed with every result."""
    return {
        "workload": workload,
        "seed": seed,
        "inputs": inputs,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_version": spark.version,
        "python": platform.python_version(),
        "loadavg_start": load_start["loadavg_1m"],
        "loadavg_end": load_end["loadavg_1m"],
        "steal_pct": round(steal_pct(load_start, load_end), 2),
    }


# -- ops ----------------------------------------------------------------------------


class Op:
    """One call the closed-loop client makes and waits for.

    ``run(ctx)`` does the call and returns what ``check`` inspects;
    ``check`` runs after the timed ops and returns None when the output
    is right, else the reason it is wrong. ``group`` names the op's slot
    in a pass (its name unless ops of several passes share one)."""

    def __init__(self, name: str, run, check, group: str | None = None):
        self.name = name
        self.run = run
        self.check = check
        self.group = group or name


class OpCtx:
    """Passed to ``Op.run``: the tracer's spans (no-ops when tracing is
    off) and, for registry queries, the interval spent building the
    DataFrame."""

    def __init__(self, spans):
        self.spans = spans
        self.build: tuple[float, float] | None = None
