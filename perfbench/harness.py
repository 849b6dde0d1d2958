"""Spark-free helpers of the s2spark benchmark: statistics, the
order-independent result digest, skew and layer-differencing arithmetic,
the box fingerprint, process-tree CPU accounting, run isolation and core
pinning.  Nothing here imports Spark or the engine package."""

from __future__ import annotations

import os
import platform
import statistics
import time

import numpy as np

# -- statistics ---------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    values = list(values)
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def skew_ratio(partition_rows) -> float:
    """max / median rows over the (non-empty) partitions of a frame."""
    rows = [int(r) for r in partition_rows if r > 0]
    if not rows:
        return 0.0
    return max(rows) / median(rows)


def breakdown(total_s: float, layers: dict[str, float]) -> dict:
    """How layer self times add up to ``total_s``.

    The remainder is ``total_s - sum(layers)`` and is reported as is: a
    negative remainder, or a negative layer (a prefix job that ran
    slower than the longer job it is subtracted from), is listed in
    ``negative`` instead of being clamped to zero."""
    layer_sum = float(sum(layers.values()))
    remainder = float(total_s) - layer_sum
    negative = sorted(k for k, v in layers.items() if v < 0)
    if remainder < 0:
        negative.append("remainder")
    return {
        "total_s": float(total_s),
        "layers": {k: float(v) for k, v in layers.items()},
        "layer_sum_s": layer_sum,
        "remainder_s": remainder,
        "negative": negative,
    }


# -- order-independent digest --------------------------------------------
# Spark's xxhash64 (XXH64 over the 8 little-endian bytes of each long
# column, chained through the seed, first seed 42), reproduced in numpy
# so an engine result can be compared with a numpy answer without
# collecting either side's rows.

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_LOW32 = np.uint64(0xFFFFFFFF)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(8)
        h ^= _rotl(v * _P2, 31) * _P1
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def xxhash64_longs(*cols, seed: int = 42) -> np.ndarray:
    """``xxhash64(c0, c1, ...)`` over int64 columns, as uint64."""
    n = len(cols[0])
    h = np.full(n, seed, dtype=np.uint64)
    for c in cols:
        h = _hash_long(np.ascontiguousarray(c, dtype=np.int64).view(np.uint64), h)
    return h


def digest_of(*cols) -> tuple[int, int, int]:
    """(rows, xor of the row hashes, sum of their low 32 bits) over
    int64 key columns.  Row order does not change it; a dropped,
    added or duplicated row does."""
    h = xxhash64_longs(*cols)
    xor = int(np.bitwise_xor.reduce(h)) if len(h) else 0
    if xor >= 1 << 63:
        xor -= 1 << 64
    return len(h), xor, int((h & _LOW32).sum())


def spark_digest(df, *key_cols) -> tuple[int, int, int]:
    """The same digest computed by Spark over long key expressions."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[c.cast("long") for c in key_cols])
    row = df.select(h.alias("_h")).agg(
        F.count("*").alias("n"),
        F.bit_xor("_h").alias("x"),
        F.sum(F.pmod("_h", F.lit(1 << 32))).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0), int(row["s"] or 0)


# -- box fingerprint -----------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return sum(fields[:8]), steal


def load_sample() -> dict:
    total, steal = _cpu_jiffies()
    return {"loadavg_1m": os.getloadavg()[0], "jiffies": total,
            "steal_jiffies": steal, "t": time.time()}


def steal_share(before: dict, after: dict) -> float:
    dt = after["jiffies"] - before["jiffies"]
    return (after["steal_jiffies"] - before["steal_jiffies"]) / dt if dt else 0.0


def calibration_s() -> float:
    """Wall time of a fixed single-threaded numpy loop (sorts of a seeded
    1M-float array), to compare box speed across artifacts."""
    a = np.random.default_rng(0).random(1_000_000)
    t0 = time.perf_counter()
    for _ in range(5):
        np.sort(a, kind="quicksort")
    return time.perf_counter() - t0


def fingerprint() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "calibration_s": calibration_s(),
    }


# -- process-tree CPU ----------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in clock ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        out[int(d)] = (int(rest[1]), sum(int(v) for v in rest[11:15]))
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    every live descendant — this Python process, the JVM and its Python
    workers, plus whatever exited children they have reaped."""
    table = _proc_table()
    root = os.getpid() if root is None else root
    ticks = sum(table[p][1] for p in descendants(root, table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def pin_tree(cpus: set[int], root: int | None = None) -> int:
    """Pin every thread of ``root`` and its descendants to ``cpus`` (the
    sched_setaffinity call that ``taskset -a -p`` makes).  Threads and
    processes started later inherit the mask.  Returns threads pinned."""
    root = os.getpid() if root is None else root
    pinned = 0
    for pid in descendants(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
                pinned += 1
            except OSError:
                pass  # thread exited between listing and pinning
    return pinned


# -- isolation -----------------------------------------------------------


def isolate(scratch: str) -> dict[str, str]:
    """Point every temp, spill and warehouse location of this process,
    the JVM it will launch and that JVM's Python workers under
    ``scratch``.  Must run before the first SparkSession is created."""
    import tempfile

    dirs = {k: os.path.join(scratch, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
    java_opts = ("-Dspark.ui.showConsoleProgress=false "
                 f"-Dderby.system.home={dirs['tmp']}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']} "
        f"--driver-java-options '{java_opts}' pyspark-shell"
    )
    return dirs
