"""The lakehouse workload, in its own process so run.py can sample its
memory from outside.  In-process and single-threaded against the engine's
public functions (no HTTP route reaches this path):

  set-up  seed a txlog tag table, attach a MatViewRollup, bootstrap it
  round   txlog.write an append; MatViewRollup.refresh(); one rollup
          query; one late correction (dml.delete / update / merge)

Every rollup answer is checked against the pandas model of the table;
after the timed rounds the final rollup is checked against a
recomputation from txlog.read_table, and read_table against the model.

    python3 srvbench/lakehouse.py --seed N --seconds S --trace 0|1 \\
        --scratch DIR --out RESULT.json
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

import pandas as pd  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
from common import ROOT, OpLog, now, passes_for  # noqa: E402
import spans as tr  # noqa: E402

AGGS = {"c": "count", "s": "sum", "lo": "min", "hi": "max"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    sys.path.insert(0, ROOT)
    from neo_server_spark import dml, txlog
    from neo_server_spark.session import get_spark
    from neo_server_spark.sqlx.rollup import MINUTE, MatViewRollup
    from pyspark.sql import functions as F

    eventlog = os.path.join(a.scratch, "eventlog")
    extra = {}
    if a.trace:
        os.makedirs(eventlog, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": eventlog,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    spark = get_spark(app_name="srvbench-lakehouse", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tr.Tracer()
    if a.trace:
        tr.install(tracer)

    mix = gen.LakeMix(a.seed)
    base = os.path.join(a.scratch, "tag")
    view = os.path.join(a.scratch, "rollup")
    state = mix.batch(0, gen.LAKE_SEED_ROWS)
    txlog.write(spark.createDataFrame(state), base)
    rollup = MatViewRollup(spark, base, view)
    rollup.refresh()
    setup_s = now() - T_START

    oplog, errors = OpLog(), []
    attempted = failed = 0
    timed_ops: list[str] = []

    def run_op(name, cls, fn, rows=0):
        op = f"r{rnd}-{name}"
        if a.trace:
            spark.sparkContext.setJobGroup(op, op)
            idx = tracer.start("lake.op", op=op)
        t = now()
        try:
            return fn()
        finally:
            ms = (now() - t) * 1000.0
            if a.trace:
                tracer.end(idx)
            if timed:
                timed_ops.append(op)
                oplog.add(name, cls, ms, True, rows, op)

    def outcome(ok, why):
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            if len(errors) < 5:
                errors.append(why)

    def query(tags):
        return [tuple(r) for r in rollup.query(MINUTE, AGGS, tags=tags)
                .select("name", "time", *AGGS).collect()]

    def one_round(ops):
        nonlocal state
        batch = mix.batch(rnd, gen.LAKE_APPEND_ROWS)
        run_op("append", "write", lambda: txlog.write(
            spark.createDataFrame(batch), base), rows=len(batch))
        state = pd.concat([state, batch], ignore_index=True)
        run_op("refresh", "write", rollup.refresh)
        tags = mix.query_args(rnd)["tags"]
        got = run_op("query", "read", lambda: query(tags))
        ok, why = oracle.rows_equal(got, gen.rollup_expect(state, tags,
                                                           MINUTE))
        outcome(ok, f"round {rnd} rollup query: {why}")
        for op in ops:
            args = mix.correction(rnd, op, state)
            if op == "merge":
                res = run_op(op, "write", lambda: dml.merge(
                    spark, base, spark.createDataFrame(args["source"]),
                    on=["name", "time"]))
            else:
                cond = ((F.col("name") == args["tag"])
                        & (F.col("time") >= args["lo"])
                        & (F.col("time") < args["hi"]))
                res = run_op(op, "write", lambda: dml.delete(
                    spark, base, cond) if op == "delete" else dml.update(
                    spark, base, cond,
                    {"value": f"value + {args['delta']}"}))
            outcome(0 <= res["files_touched"] <= res["files_total"],
                    f"round {rnd} {op}: {res}")
            state = gen.apply_correction(state, op, args)

    # one untimed warm-up round runs every statement kind once
    rnd, timed = 1, False
    one_round(gen.DML_OPS)
    walls, measured, timed = [], 0.0, True
    for _ in range(passes_for("lakehouse", a.seconds)):
        rnd += 1
        t_round = now()
        one_round([gen.DML_OPS[rnd % 3]])
        walls.append(now() - t_round)
        measured += walls[-1]

    # outside the timed rounds: the final rollup against a recomputation
    # from txlog.read_table, and read_table against the pandas model.
    # The checks get their own job group and op, so none of their work is
    # charged to the last timed op.
    if a.trace:
        spark.sparkContext.setJobGroup("verify", "verify")
        verify = tracer.start("lake.verify", op="verify")
    rollup.refresh()
    tags = mix.tags()
    final = query(tags)
    table = txlog.read_table(spark, base).select("name", "time", "value") \
        .toPandas()
    ok, why = oracle.rows_equal(final, gen.rollup_expect(table, tags,
                                                         MINUTE))
    outcome(ok, f"final rollup vs txlog.read_table: {why}")
    why = oracle.multiset_diff(table.itertuples(index=False, name=None),
                               state.itertuples(index=False, name=None))
    outcome(not why, f"txlog.read_table vs model: {why}")
    if a.trace:
        tracer.end(verify)

    out = {"setup_s": setup_s, "ops": oplog.ops, "walls": walls,
           "measured_s": measured, "attempted": attempted, "failed": failed,
           "errors": errors, "timed_ops": timed_ops,
           "log_files": len(os.listdir(os.path.join(base, "_txlog"))),
           "live_files": len(txlog.live_files(base)),
           "rows_held": len(state)}
    if a.trace:
        out["spans"] = tracer.spans
        out["eventlog"] = eventlog
    spark.stop()
    with open(a.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
