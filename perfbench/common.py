"""Shared pieces of the benchmark: run context, tracing, statistics, output
checks, Spark execution counters and memory probes.

Everything here lives on the benchmark side of the package boundary: the
package is only ever called through its public functions, and every span
is recorded around those calls, never inside them.
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import statistics
import time
from dataclasses import dataclass, field

# Spark runs as local[CPUS], driven by one process and one client thread.
CPUS = 4
# Set-up is repeated this many times per run and reported as the median.
SETUP_REPS = 3

LAYERS = ("session", "catalog", "nl", "plans", "operators", "formats", "streaming", "bench")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# -- tracing -----------------------------------------------------------------


class Tracer:
    """Spans kept in memory, written once when the run ends.

    A span has a name (``<layer>.<what>``), start and end (perf_counter
    seconds), the index of its parent span and the operation id it belongs
    to.  ``open``/``close`` nest on a stack, so a span opened while another
    is open becomes its child.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.overhead_s = 0.0  # time spent on tracing work itself

    def open(self, name: str) -> int:
        if not self.enabled:
            return -1
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": t, "end": None, "parent": parent, "op": self.op})
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.overhead_s += time.perf_counter() - t
        return idx

    def close(self, idx: int) -> None:
        if idx < 0:
            return
        t = time.perf_counter()
        self.spans[idx]["end"] = t
        # close any child left open (an exception unwound past it)
        while self._stack and self._stack[-1] != idx:
            self.spans[self._stack.pop()]["end"] = t
        if self._stack:
            self._stack.pop()
        self.overhead_s += time.perf_counter() - t

    def span(self, name: str):
        return _SpanCtx(self, name)

    def mark(self) -> int:
        """Position in the span list, to delimit the timed loop."""
        return len(self.spans)

    def self_times(self, first: int = 0, last: int | None = None) -> dict[str, float]:
        """Per-layer self time over spans[first:last]: each span's duration
        minus the time its children cover (children run sequentially on the
        one client thread, so their durations add up without overlap)."""
        last = len(self.spans) if last is None else last
        child_time = [0.0] * len(self.spans)
        for s in self.spans[first:last]:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for i in range(first, last):
            s = self.spans[i]
            if s["end"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer if layer in out else "bench"] += s["end"] - s["start"] - child_time[i]
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.idx = -1

    def __enter__(self):
        self.idx = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer.close(self.idx)
        return False


# -- Spark execution counters --------------------------------------------------


class ExecCounter:
    """Jobs, stages and tasks per operation, read from the status tracker
    with the job group set to the operation id.  Only active when tracing:
    the py4j round trips are tracing overhead."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.jobs = self.stages = self.tasks = 0
        self.by_op: dict[str, tuple[int, int, int]] = {}

    def begin(self, op_id: str) -> None:
        self.tracer.op = op_id
        if self.tracer.enabled:
            t = time.perf_counter()
            self.spark.sparkContext.setJobGroup(op_id, op_id)
            self.tracer.overhead_s += time.perf_counter() - t

    def end(self, op_id: str) -> tuple[int, int, int]:
        self.tracer.op = None
        if not self.tracer.enabled:
            return (0, 0, 0)
        t = time.perf_counter()
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for jid in st.getJobIdsForGroup(op_id):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stages += 1
                sinfo = st.getStageInfo(sid)
                tasks += sinfo.numTasks if sinfo else 0
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.jobs += jobs
        self.stages += stages
        self.tasks += tasks
        self.by_op[op_id] = (jobs, stages, tasks)
        self.tracer.overhead_s += time.perf_counter() - t
        return jobs, stages, tasks


# -- memory --------------------------------------------------------------------


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (Linux /proc); 0 when unavailable."""
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, AttributeError):
        pass
    return 0.0


# -- output checks -------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(f"{v:.9g}")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):  # a DuckDB struct; Spark returns it as a Row
        return tuple(_norm(x) for x in v.values())
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return float(f"{float(v):.9g}")  # Decimal
    return v


def canonical(rows, columns) -> list[tuple]:
    """Order-insensitive form of a result: columns sorted by name, floats
    to 9 significant digits, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def rows_match(a_rows, a_cols, b_rows, b_cols, rel_tol: float = 1e-6) -> bool:
    """Same multiset of rows, floats equal within ``rel_tol`` (two engines
    sum doubles in different orders)."""
    if sorted(a_cols) != sorted(b_cols) or len(a_rows) != len(b_rows):
        return False
    a, b = canonical(a_rows, a_cols), canonical(b_rows, b_cols)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            numbers = isinstance(x, (int, float)) and isinstance(y, (int, float))
            if numbers and (isinstance(x, float) or isinstance(y, float)):
                if not math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


# -- run context ---------------------------------------------------------------


@dataclass
class RunContext:
    """What a workload receives: its seed, measuring time, tracer and the
    working directory it may write in (inside the checkout)."""

    seed: int
    seconds: float
    tracer: Tracer
    workdir: str
    layer: dict = field(default_factory=dict)  # per-layer metric values
    attempted: int = 0
    failed: int = 0
    wrong: int = 0  # failures that returned a wrong result (not a raise)

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.workdir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh_dir(self, *parts: str) -> str:
        p = os.path.join(self.workdir, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p


def dir_bytes(path: str) -> tuple[int, int, int]:
    """(metadata bytes, data bytes, data files) under a table root:
    ``_*.json`` files are metadata, ``*.parquet`` files are data."""
    meta = data = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size = os.path.getsize(os.path.join(root, n))
            if n.endswith(".parquet"):
                data += size
                files += 1
            elif n.startswith("_") and n.endswith(".json"):
                meta += size
    return meta, data, files
