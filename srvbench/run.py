"""Server benchmark: one workload, one seed, one run.

    python3 srvbench/run.py --workload serve_read --seed 1 --seconds 14 \\
        --trace 0

Prints every metric with its unit, the correctness verdict, and as the
last line one JSON object {correct, attempted, failed, metrics}.
``--trace 0`` reports the end-to-end metrics of an untraced run;
``--trace 1`` runs the workload untraced and then traced, and reports the
per-layer metrics of the traced run plus the tracing overhead.  Exits
non-zero, printing no result, when the engine is missing or a run breaks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import spans as tr
from common import (GATED, HERE, REPORTED, OpLog, RssSampler, child_env,
                    cores, emit, end_to_end, engine_present, run_dir)
from server import reap_group
from workloads import SERVER_WORKLOADS

#: per-layer metrics: name -> (unit, better)
PER_LAYER = {
    "server.self_ms": ("ms", "lower"),
    "tql.parse_ms": ("ms", "lower"),
    "tql.run_self_ms": ("ms", "lower"),
    "tql.cache_hit_ratio": ("ratio", "higher"),
    "tql.cache_hits": ("count", "higher"),
    "tql.cache_misses": ("count", "lower"),
    "sqlx.views_ms": ("ms", "lower"),
    "sqlx.lake_sql_ms": ("ms", "lower"),
    "sqlx.ddl_insert_ms": ("ms", "lower"),
    "sqlx.ddl_rows_held": ("rows", "lower"),
    "codecs.encode_ms": ("ms", "lower"),
    "codecs.bytes_out": ("B", "lower"),
    "io.write_ms": ("ms", "lower"),
    "io.files_per_write": ("count", "lower"),
    "io.bytes_per_row": ("B", "lower"),
    "streaming.decode_lp_ms": ("ms", "lower"),
    "streaming.refresh_ms": ("ms", "lower"),
    "streaming.refresh_full_ratio": ("ratio", "lower"),
    "streaming.delta_rows": ("rows", "lower"),
    "txlog.write_ms": ("ms", "lower"),
    "txlog.commits": ("count/op", "lower"),
    "txlog.log_files": ("count", "lower"),
    "txlog.live_files": ("count", "lower"),
    "dml.delete_ms": ("ms", "lower"),
    "dml.update_ms": ("ms", "lower"),
    "dml.merge_ms": ("ms", "lower"),
    "dml.touched_ratio": ("ratio", "lower"),
    "spark.jobs_per_op": ("count/op", "lower"),
    "spark.job_ms": ("ms", "lower"),
    "spark.driver_gap_ms": ("ms", "lower"),
    "spark.exec_run_ms": ("ms", "lower"),
    "spark.exec_cpu_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.single_task_stages": ("count/op", "lower"),
    "spark.shuffle_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}

WORKLOADS = (*SERVER_WORKLOADS, "lakehouse")

#: the tail percentile per workload: the highest that leaves at least 10
#: operations beyond at --seconds 14 (serve_read 128 ops, serve_ingest 50,
#: tql_batch 15, lakehouse 24)
TAIL_PCT = {"serve_read": 90, "serve_ingest": 75, "tql_batch": 30,
            "lakehouse": 55}


class RunBroken(RuntimeError):
    pass


def _lakehouse(seed: int, seconds: float, scratch: str, traced: bool):
    d = os.path.join(scratch, "traced" if traced else "plain")
    os.makedirs(d)
    out = os.path.join(d, "result.json")
    with open(os.path.join(d, "engine.log"), "w") as log:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "lakehouse.py"),
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(traced)), "--scratch", d, "--out", out],
            stdout=log, stderr=subprocess.STDOUT, env=child_env(d),
            start_new_session=True)
        rss = RssSampler(p.pid)
        try:
            rc = p.wait(timeout=170)
        finally:
            reap_group(p)
            peak = rss.stop()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(d, "engine.log")) as f:
            raise RunBroken(f"lakehouse exited {rc}: {f.read()[-1500:]}")
    with open(out) as f:
        res = json.load(f)
    res["peak_mb"] = peak
    return res


def _summary(name, seed, seconds, scratch, traced):
    """Run once; return a uniform dict: oplog, setup_s, measured_s,
    pass_walls, peak_mb, attempted, failed, errors, timed_ops, spans,
    eventlog, extra."""
    if name == "lakehouse":
        r = _lakehouse(seed, seconds, scratch, traced)
        log = OpLog()
        log.ops = r["ops"]
        return {"oplog": log, "setup_s": r["setup_s"],
                "measured_s": r["measured_s"], "pass_walls": r["walls"],
                "peak_mb": r["peak_mb"], "attempted": r["attempted"],
                "failed": r["failed"], "errors": r["errors"],
                "timed_ops": set(r["timed_ops"]),
                "spans": r.get("spans"), "eventlog": r.get("eventlog"),
                "root": "lake.op",
                "extra": {"txlog.log_files": r["log_files"],
                          "txlog.live_files": r["live_files"]}}
    w = SERVER_WORKLOADS[name](seed)
    w.prepare(scratch)
    run = w.serve_once(scratch, seconds, traced,
                       "traced" if traced else "plain")
    spans = None
    if traced:
        with open(run.spans_path) as f:
            spans = json.load(f)["spans"]
    return {"oplog": run.oplog, "setup_s": run.setup_s,
            "measured_s": run.measured_s, "pass_walls": run.pass_walls,
            "peak_mb": run.peak_mb, "attempted": run.attempted,
            "failed": run.failed, "errors": run.errors,
            "timed_ops": run.timed_ops, "spans": spans,
            "eventlog": run.eventlog if traced else None,
            "root": "server.request", "extra": run.extra}


def _report(name, seed, s, e2e) -> list[str]:
    lines = [f"workload {name} seed {seed}: " + "; ".join(e2e["_info"])]
    for k in (*GATED, *REPORTED):
        if k in e2e:
            v, unit = e2e[k]
            tag = "" if k in GATED else "   (report only)"
            lines.append(f"  {k:<16} {v:12.4f} {unit}{tag}")
    ratio = s["failed"] / max(s["attempted"], 1)
    lines.append(f"  fail_ratio       {ratio:12.4f}    ({s['failed']} of "
                 f"{s['attempted']} checked)")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's scratch directory")
    a = ap.parse_args()
    if not engine_present():
        print("srvbench: neo_server_spark is not in this checkout",
              file=sys.stderr)
        return 2
    scratch = run_dir(a.workload, a.seed, f"t{a.trace}")
    try:
        return _run(a, scratch)
    except RunBroken as ex:
        print(f"srvbench: {ex}", file=sys.stderr)
        return 1
    finally:
        if not a.keep:
            shutil.rmtree(scratch, ignore_errors=True)


def _run(a, scratch: str) -> int:
    base = _summary(a.workload, a.seed, a.seconds, scratch, False)
    e2e = end_to_end(base["oplog"], base["setup_s"], base["measured_s"],
                     base["pass_walls"], base["peak_mb"],
                     TAIL_PCT[a.workload])
    lines = _report(a.workload, a.seed, base, e2e)
    correct = base["failed"] == 0
    attempted, failed = base["attempted"], base["failed"]
    if not a.trace:
        lines += [f"  error: {x}" for x in base["errors"]]
        lines.append(f"correct: {correct}")
        emit(correct, attempted, failed,
             {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED},
             lines)
        return 0

    tr_run = _summary(a.workload, a.seed, a.seconds, scratch, True)
    attempted += tr_run["attempted"]
    failed += tr_run["failed"]
    missing = tr.missing_spans(tr_run["spans"], a.workload)
    eventlog = tr.read_eventlog(tr_run["eventlog"])
    layer = tr.fold(tr_run["spans"], tr_run["timed_ops"], tr_run["root"],
                    eventlog, cores())
    layer.update({k: v for k, v in tr_run["extra"].items()
                  if k in PER_LAYER})
    traced_rate = sum(1 for o in tr_run["oplog"].ops if o["ok"]) \
        / tr_run["measured_s"]
    plain_rate = e2e["req_per_s"][0]
    layer["trace.overhead_pct"] = 100.0 * (plain_rate / traced_rate - 1.0)
    for k in PER_LAYER:
        layer.setdefault(k, 0.0)
    correct = failed == 0 and not missing
    lines.append(f"traced run ({len(tr_run['spans'])} spans, "
                 f"{len(eventlog['jobs'])} Spark jobs); per-layer means over "
                 f"{len(tr_run['timed_ops'])} timed ops:")
    for k, (unit, _b) in PER_LAYER.items():
        lines.append(f"  {k:<30} {layer[k]:.4f} {unit}")
    if missing:
        lines.append(f"  error: wrapped layers produced no span: {missing}")
    lines += [f"  error: {x}" for x in base["errors"] + tr_run["errors"]]
    lines.append(f"correct: {correct}")
    emit(correct, attempted, failed,
         {k: {"value": layer[k], "unit": u}
          for k, (u, _b) in PER_LAYER.items()}, lines)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
