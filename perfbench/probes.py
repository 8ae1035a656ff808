"""Per-layer probes, all taken from outside the program.

* CPU time per process tree, read from ``/proc`` (the JVM and the Python
  worker processes it forks).
* Catalyst phase times and per-node SQL metrics, read through the query's
  own ``QueryExecution``.
* Direct single-threaded calls into the public functions of ``core``
  (``JsonParser`` driving a ``PushdownPlate``) and ``sources`` (the
  DataSource, its reader and its writers).
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

_CLK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------- /proc


def _stat(pid: int) -> tuple[int, list[int]] | None:
    """(ppid, [utime, stime, cutime, cstime]) in clock ticks, or None when
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    rest = s[s.rindex(")") + 2 :].split()
    return int(rest[1]), [int(x) for x in rest[11:15]]


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def cpu_seconds(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU s, Python worker tree CPU s), cumulative.

    The JVM's own user+system time is the JVM figure. Every process below
    the JVM is a Python worker or daemon; their time, plus the time of
    exited children already reaped (``cutime``/``cstime``, which the JVM
    and the daemon accumulate), is the Python figure."""
    st = _stat(jvm_pid)
    if st is None:
        return 0.0, 0.0
    jvm = st[1][0] + st[1][1]
    py = st[1][2] + st[1][3]
    for pid in descendants(jvm_pid):
        s = _stat(pid)
        if s is not None:
            py += sum(s[1])
    return jvm / _CLK, py / _CLK


# A fixed pure-Python loop; each copy prints the wall and CPU seconds it took.
_CALIBRATION = (
    "import time\nt, c = time.perf_counter(), time.process_time()\ns = 0\n"
    "for i in range(1_500_000):\n    s += i * i\n"
    "print(time.perf_counter() - t, time.process_time() - c)"
)


def calibrate(copies: int) -> tuple[float, float]:
    """Median wall and CPU seconds of the fixed loop with ``copies`` copies
    running at once: how fast this host runs Python on every core now."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _CALIBRATION], stdout=subprocess.PIPE, text=True)
        for _ in range(copies)
    ]
    out = [[float(x) for x in p.communicate()[0].split()] for p in procs]
    return statistics.median(w for w, _ in out), statistics.median(c for _, c in out)


# ----------------------------------------------------------- QueryExecution


def _scala_map(m) -> dict:
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def phases_ms(qe) -> dict[str, float]:
    """Catalyst phase durations from ``QueryExecution.tracker()``."""
    return {k: float(v.durationMs()) for k, v in _scala_map(qe.tracker().phases()).items()}


def plan_nodes(qe) -> list[tuple[str, dict[str, int]]]:
    """(node name, SQL metrics) for every node of the executed plan,
    descending through AQE and its query stages. Reused exchanges are not
    entered, so no shuffle is counted twice."""
    out = []
    stack = [qe.executedPlan()]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        out.append((n.nodeName(), {k: int(v.value()) for k, v in _scala_map(n.metrics()).items()}))
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def exec_metrics(nodes: list[tuple[str, dict[str, int]]]) -> dict[str, int]:
    """Scan rows out, shuffle bytes written and peak memory."""
    m = {"scan_rows_out": 0, "shuffle_bytes": 0, "peak_memory_bytes": 0}
    for name, d in nodes:
        if name.startswith("BatchScan"):
            m["scan_rows_out"] += d.get("numOutputRows", 0)
        m["shuffle_bytes"] += d.get("shuffleBytesWritten", 0)
        m["peak_memory_bytes"] = max(m["peak_memory_bytes"], d.get("peakMemory", 0))
    return m


# --------------------------------------------------------------------- core


def core_probe(sample: bytes, required: set[str] | None) -> tuple[float, int]:
    """Parse ``sample`` (complete NDJSON lines) single-threaded with
    ``JsonParser`` over a ``PushdownPlate``. Returns (seconds, bytes the
    parser reported through ``skipped()``). The counting plate wraps the
    pushdown plate, which also keeps the parser on its event path."""
    from tectonic_spark.core.json_parser import JsonParser, Mode
    from tectonic_spark.core.plate import DelegatingPlate
    from tectonic_spark.core.result import Failure, Partial
    from tectonic_spark.sources.pushdown import PushdownPlate

    class SkipCounter(DelegatingPlate):
        def __init__(self, delegate):
            super().__init__(delegate)
            self.n = 0

        def skipped(self, n_bytes: int) -> None:
            self.n += n_bytes
            self.delegate.skipped(n_bytes)

    plate = SkipCounter(PushdownPlate(required=required))
    parser = JsonParser(plate, Mode.VALUE_STREAM)
    t0 = time.perf_counter()
    for res in (parser.absorb(sample), parser.finish()):
        while isinstance(res, Partial):
            res = parser.resume()
        if isinstance(res, Failure):
            raise res.error
    return time.perf_counter() - t0, plate.n


# ------------------------------------------------------------------ sources


def infer_seconds(source_cls, options: dict) -> float:
    t0 = time.perf_counter()
    source_cls(options).schema()
    return time.perf_counter() - t0


def drive_reader(reader, max_bytes: int, filters=None) -> tuple[float, int, int, int, int]:
    """Run ``reader.read`` on this thread over the planned splits, in order,
    until ``max_bytes`` of input has been read. Returns (seconds, splits
    planned, input bytes read, rows out, Arrow bytes out)."""
    if filters is not None:
        reader.pushFilters(filters)
    t0 = time.perf_counter()
    parts = reader.partitions()
    size = rows = nbytes = 0
    for p in parts:
        if size >= max_bytes:
            break
        size += p.end - p.start
        for batch in reader.read(p):
            rows += batch.num_rows
            nbytes += batch.nbytes
    return time.perf_counter() - t0, len(parts), size, rows, nbytes


def drive_writer(writer, batches) -> tuple[float, int]:
    """One writer task plus its commit, on this thread. Returns (seconds,
    bytes written)."""
    t0 = time.perf_counter()
    msg = writer.write(iter(batches))
    writer.commit([msg])
    dt = time.perf_counter() - t0
    return dt, sum(f.stat().st_size for f in Path(writer.path).iterdir())
