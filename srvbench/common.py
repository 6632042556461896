"""Shared helpers: paths, percentiles, interval arithmetic, process-tree
memory sampling and the result line.

Everything here is plain Python/numpy so the benchmark's own tests can
import it without a Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".srvbench_out")


def engine_present() -> bool:
    """True when the checkout holds the engine package next to us."""
    return os.path.isfile(os.path.join(ROOT, "neo_server_spark",
                                       "__main__.py"))


def run_dir(workload: str, seed: int, tag: str) -> str:
    """A fresh scratch directory inside the checkout for one run."""
    d = os.path.join(OUT_DIR, f"{workload}-s{seed}-{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def child_env(scratch: str) -> dict:
    """Environment for engine processes: every temp/spill path points
    into the run's scratch directory, so nothing lands outside the
    checkout."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"]
                                if env.get("PYTHONPATH") else "")
    return env


def cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


#: seconds one pass took when the benchmark was written (4-core box).
#: A run does ``--seconds`` worth of passes at that speed, a fixed amount
#: of work:
#: state that grows during a run (DDL rows held, txlog files, server age)
#: then follows the same path in every run, whatever the speed.
NOMINAL_PASS_S = {"serve_read": 1.75, "serve_ingest": 1.4,
                  "tql_batch": 4.4, "lakehouse": 2.3}


def passes_for(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


# ------------------------------------------------------------ percentiles

def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values, pct: float) -> tuple[float, int]:
    """(value at percentile ``pct``, samples beyond it).  Each workload
    fixes ``pct`` (TAIL_PCT) as the highest percentile its usual sample
    count leaves at least 10 samples beyond; a fixed percentile keeps the
    tail comparable between runs whose counts differ by a few."""
    v = percentile(values, pct)
    return v, sum(1 for x in values if x > v)


def spread(values) -> float:
    """Inter-quartile distance over the median (the stability gate)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


# ------------------------------------------------------ interval algebra

def union(intervals):
    """Merge [(start, end)] into disjoint sorted intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    tot = 0.0
    for s, e in union(intervals):
        lo, hi = max(s, start), min(e, end)
        if hi > lo:
            tot += hi - lo
    return tot


def exclusive(start: float, end: float, intervals) -> float:
    """Length of [start, end] NOT covered by ``intervals`` (self time)."""
    return (end - start) - covered(start, end, intervals)


# ------------------------------------------------ process-tree sampling

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(pid: int) -> int:
    """Summed VmRSS of ``pid`` and all its descendants."""
    kids = _children_map()
    todo, total = [pid], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples a process tree's RSS from outside on a background thread
    and keeps the peak."""

    def __init__(self, pid: int, every_s: float = 0.25):
        self.pid, self.every_s = pid, every_s
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.every_s)

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        return self.peak / (1024 * 1024)


# --------------------------------------------------------------- results

class OpLog:
    """Thread-safe record of timed operations: (kind, class, ms, ok, rows)."""

    def __init__(self):
        self._lock = threading.Lock()
        self.ops: list[dict] = []

    def add(self, kind: str, cls: str, ms: float, ok: bool, rows: int = 0,
            op: str = ""):
        with self._lock:
            self.ops.append({"kind": kind, "cls": cls, "ms": ms, "ok": ok,
                             "rows": rows, "op": op})

    def of(self, cls: str) -> list[dict]:
        return [o for o in self.ops if o["cls"] == cls]


#: the end-to-end metrics the JSON result carries (BENCHMARK.json); every
#: workload has them and they hold steady between runs.  The report also
#: prints REPORTED, which are unsteady at this run length or undefined on
#: read-only workloads.
GATED = ("setup_s", "req_per_s", "read_p50_ms", "op_p50_ms", "op_tail_ms",
         "wall_s")
REPORTED = ("read_tail_ms", "peak_mem_mb", "write_p50_ms", "write_tail_ms",
            "rows_ack_per_s")


def end_to_end(oplog: OpLog, setup_s: float, measured_s: float,
               pass_walls: list[float], peak_mb: float,
               tail_pct: float) -> dict:
    """name -> (value, unit) for every end-to-end metric that applies,
    plus the tails' percentiles and sample counts under "_info"."""
    reads = [o["ms"] for o in oplog.of("read")]
    writes = [o["ms"] for o in oplog.of("write")]
    alls = [o["ms"] for o in oplog.ops]
    done = sum(1 for o in oplog.ops if o["ok"])
    rt, rb = tail(reads, tail_pct)
    at, ab = tail(alls, tail_pct)
    m = {
        "setup_s": (setup_s, "s"),
        "req_per_s": (done / measured_s, "1/s"),
        "read_p50_ms": (statistics.median(reads), "ms"),
        "op_p50_ms": (statistics.median(alls), "ms"),
        "op_tail_ms": (at, "ms"),
        "wall_s": (statistics.median(pass_walls), "s"),
        "read_tail_ms": (rt, "ms"),
        "peak_mem_mb": (peak_mb, "MB"),
    }
    info = [f"tails at p{tail_pct:g}",
            f"{len(reads)} reads ({rb} beyond the tail)",
            f"{len(alls)} ops ({ab} beyond)", f"{len(pass_walls)} passes"]
    if writes:
        wt, wb = tail(writes, tail_pct)
        m["write_p50_ms"] = (statistics.median(writes), "ms")
        m["write_tail_ms"] = (wt, "ms")
        m["rows_ack_per_s"] = (sum(o["rows"] for o in oplog.of("write")
                                   if o["ok"]) / measured_s, "rows/s")
        info.append(f"{len(writes)} writes ({wb} beyond)")
    m["_info"] = info
    return m


def emit(correct: bool, attempted: int, failed: int, metrics: dict,
         report_lines: list[str]) -> None:
    """Print the human report, then the one-line JSON result (last)."""
    for line in report_lines:
        print(line)
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


def now() -> float:
    return time.perf_counter()
