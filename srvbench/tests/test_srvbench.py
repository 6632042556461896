"""The benchmark's own tests (no Spark needed):

    python3 -m pytest srvbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import common  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import spans as tr  # noqa: E402


# ------------------------------------------------------- seeded inputs

def _inputs(seed: int, tmp) -> dict:
    ev = gen.make_events(seed, 4, 2000)
    d = os.path.join(tmp, f"sf{seed}-{len(os.listdir(tmp))}")
    gen.write_sf_dir(d, seed, ev)
    mix = gen.ReadMix(seed, ev)
    ing = gen.IngestMix(seed)
    lake = gen.LakeMix(seed)
    state = lake.batch(0, 1000)
    return {
        "dir": d,
        "read": [mix.one_pass(p) for p in range(3)] + [mix.warmup()],
        "ingest": [ing.write(c, i) for c in range(3) for i in range(8)],
        "batch": gen.tql_batch(seed, gen.make_events(seed, 4, 600)),
        "lake": [state, lake.batch(1, 50)]
        + [lake.correction(2, op, state) for op in gen.DML_OPS],
    }


def _blob(x) -> str:
    def enc(o):
        if hasattr(o, "to_json"):
            return o.to_json()
        if isinstance(o, bytes):
            return o.decode()
        raise TypeError(type(o))
    return json.dumps(x, default=enc, sort_keys=True)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = _inputs(5, str(tmp_path)), _inputs(5, str(tmp_path))
    names = sorted(os.listdir(a["dir"]))
    assert names == sorted(f"{t}.parquet" for t in gen.TABLES)
    match, mismatch, errors = filecmp.cmpfiles(a["dir"], b["dir"], names,
                                               shallow=False)
    assert mismatch == [] and errors == []
    for key in ("read", "ingest", "batch", "lake"):
        assert _blob(a[key]) == _blob(b[key]), key


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = _inputs(5, str(tmp_path)), _inputs(6, str(tmp_path))
    for key in ("read", "ingest", "batch", "lake"):
        assert _blob(a[key]) != _blob(b[key]), key


# --------------------------------------------------------- percentiles

def test_percentile_matches_numpy_linear():
    xs = list(np.random.default_rng(1).normal(size=37))
    for p in (0, 10, 50, 87.5, 99, 100):
        assert common.percentile(xs, p) == pytest.approx(
            float(np.percentile(xs, p)))


def test_tail_is_the_fixed_percentile_and_counts_beyond():
    xs = list(range(1, 101))           # 100 samples
    v, beyond = common.tail(xs, 90)
    assert v == pytest.approx(90.1)     # numpy 'linear' p90
    assert beyond == 10                 # 91..100 lie beyond it
    v, beyond = common.tail(list(range(24)), 55)
    assert beyond == 11                 # lakehouse's p55 at ~24 ops
    assert v == pytest.approx(12.65)


def test_tail_percentiles_leave_ten_operations_beyond():
    import run
    per_pass = {"serve_read": len(gen.READ_PASS),
                "serve_ingest": gen.PASS_WRITES
                + gen.PASS_WRITES // gen.READBACK_EVERY,
                "tql_batch": len(gen.TQL_BATCH), "lakehouse": 4}
    for w, k in per_pass.items():
        n = common.passes_for(w, 14) * k
        _v, beyond = common.tail(list(range(n)), run.TAIL_PCT[w])
        assert beyond >= 10, (w, n)


def test_spread_is_iqr_over_median():
    xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    import statistics
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert common.spread(xs) == pytest.approx((q3 - q1) / med)


# ------------------------------------------------------ self-time math

def _span(name, start, end, parent=None, op="op1", **kw):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "op": op, **kw}


def test_interval_union_and_exclusive():
    assert common.union([(3, 6), (1, 4), (8, 9), (9, 10)]) == [
        (1, 6), (8, 10)]
    assert common.covered(0, 10, [(1, 4), (3, 6), (12, 13)]) == 5
    assert common.exclusive(0, 10, [(-5, 1), (9, 20)]) == 8


def test_self_time_on_hand_built_span_tree():
    spans = [
        _span("server.request", 0.0, 10.0),           # 0
        _span("tql.run", 1.0, 6.0, parent=0),         # 1
        _span("tql.parse", 1.0, 1.5, parent=1),       # 2
        _span("codecs.encode", 4.0, 5.0, parent=1, bytes=100),  # 3
        _span("sqlx.views", 5.5, 7.0, parent=0),      # 4 overlaps run
    ]
    kids = tr.children(spans)
    assert kids == {0: [1, 4], 1: [2, 3]}
    # root: 10 s minus children covering [1, 7]
    assert tr.self_ms(spans, 0, kids) == pytest.approx(4000.0)
    # tql.run: 5 s minus [1, 1.5] and [4, 5], minus a job at [2, 3]
    assert tr.self_ms(spans, 1, kids, [(2.0, 3.0)]) == pytest.approx(2500.0)
    jobs = {"jobs": {0: {"group": "op1", "start": 2.0, "end": 3.0},
                     1: {"group": "op1", "start": 8.0, "end": 9.5},
                     2: {"group": "other", "start": 0.0, "end": 10.0}},
            "stages": {0: {"tasks": 1, "run_ms": 40.0, "cpu_ms": 30.0,
                           "gc_ms": 1.0, "shuffle_bytes": 10,
                           "spill_bytes": 0, "job": 0},
                       1: {"tasks": 4, "run_ms": 60.0, "cpu_ms": 50.0,
                           "gc_ms": 0.0, "shuffle_bytes": 0,
                           "spill_bytes": 5, "job": 1}}}
    m = tr.fold(spans, {"op1"}, "server.request", jobs, cores=4)
    # request self: 10 - children [1, 7] - job [8, 9.5] (job [2,3] is
    # already inside a child)
    assert m["server.self_ms"] == pytest.approx(2500.0)
    assert m["tql.run_self_ms"] == pytest.approx(2500.0)
    assert m["tql.parse_ms"] == pytest.approx(500.0)
    assert m["codecs.encode_ms"] == pytest.approx(1000.0)
    assert m["codecs.bytes_out"] == 100
    assert m["sqlx.views_ms"] == pytest.approx(1500.0)
    assert m["spark.jobs_per_op"] == 2
    assert m["spark.job_ms"] == pytest.approx(2500.0)
    assert m["spark.driver_gap_ms"] == pytest.approx(7500.0)
    assert m["spark.exec_run_ms"] == 100.0
    assert m["spark.single_task_stages"] == 1
    assert m["spark.spill_bytes"] == 5
    # layers the op never reached read zero
    assert m["dml.delete_ms"] == 0.0 and m["txlog.write_ms"] == 0.0


def test_cache_hits_and_misses_from_producer_spans():
    spans = [_span("server.request", 0, 3),
             _span("tql.cache", 0.1, 2.0, parent=0),
             _span("tql.cache.produce", 0.2, 1.9, parent=1),
             _span("server.request", 0, 3, op="op2"),
             _span("tql.cache", 0.1, 0.2, parent=3, op="op2")]
    m = tr.fold(spans, {"op1", "op2"}, "server.request", None, cores=4)
    assert (m["tql.cache_hits"], m["tql.cache_misses"]) == (1, 1)
    assert m["tql.cache_hit_ratio"] == 0.5


def test_tracer_records_parent_links_and_ops():
    t = tr.Tracer()

    def inner(x):
        return x + 1

    def outer(x):
        return wrapped_inner(x) * 2

    wrapped_inner = t.wrap(inner, "inner")
    wrapped_outer = t.wrap(outer, "outer", root=lambda args: "op-7")
    assert wrapped_outer(1) == 4
    assert [s["name"] for s in t.spans] == ["outer", "inner"]
    assert t.spans[1]["parent"] == 0 and t.spans[0]["parent"] is None
    assert {s["op"] for s in t.spans} == {"op-7"}
    assert tr.missing_spans(t.spans, "lakehouse")  # lake spans absent


def test_eventlog_fold(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 7,
                          "Executor CPU Time": 5_000_000,
                          "JVM GC Time": 1,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 64},
                          "Memory Bytes Spilled": 2,
                          "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1250},
    ]
    d = tmp_path / "ev"
    d.mkdir()
    (d / "app").write_text("\n".join(json.dumps(e) for e in evs) + "\n")
    log = tr.read_eventlog(str(d))
    assert log["jobs"][0] == {"group": "op1", "start": 1.0, "end": 1.25}
    st = log["stages"][0]
    assert (st["tasks"], st["run_ms"], st["cpu_ms"], st["job"]) == (
        1, 7, 5.0, 0)
    assert (st["shuffle_bytes"], st["spill_bytes"]) == (64, 5)


# -------------------------------------------------------------- oracle

@pytest.fixture(scope="module")
def tiny():
    ev = gen.make_events(3, 6, 2000)
    return ev, gen.ReadMix(3, ev)


def _lake_body(tag, rows):
    return json.dumps({"status": "success", "data": {"samples": [
        {"tag_name": tag, "data": [{"TIME": t, "VALUE": v}
                                   for t, v in rows]}]}}).encode()


def test_oracle_accepts_the_generators_own_answers(tiny):
    ev, mix = tiny
    rng = np.random.default_rng(0)
    raw = mix.build("lake_raw", rng)
    g = ev[(ev["name"] == raw["expect"]["tag"])]
    assert len(raw["expect"]["rows"]) in (299, 300)   # a 300 s window
    assert set(raw["expect"]["rows"]) <= set(zip(g["time"], g["value"]))
    assert oracle.check(raw, 200, _lake_body(raw["expect"]["tag"],
                                             raw["expect"]["rows"]))[0]
    csvq = mix.build("dbq_csv", rng)
    body = "ts,value\n" + "".join(f"{t},{v}\n"
                                  for t, v in csvq["expect"]["rows"])
    assert oracle.check(csvq, 200, body.encode()) == (True, "")
    tags = mix.build("lake_tags", rng)
    assert tags["expect"]["tags"] == [gen.tag_name(j) for j in range(6)]


def test_oracle_rejects_wrong_values_and_status(tiny):
    ev, mix = tiny
    raw = mix.build("lake_raw", np.random.default_rng(1))
    rows = list(raw["expect"]["rows"])
    rows[7] = (rows[7][0], rows[7][1] + 0.01)
    ok, why = oracle.check(raw, 200, _lake_body(raw["expect"]["tag"], rows))
    assert not ok and "row 7" in why
    assert not oracle.check(raw, 200, _lake_body(
        raw["expect"]["tag"], rows[:-1]))[0]
    assert not oracle.check(raw, 500, b'{"success":false}')[0]
    assert not oracle.check(raw, 200, b"not json")[0]


def test_movavg_expectation_matches_a_loop(tiny):
    ev, mix = tiny
    req = mix.build("tql_movavg", np.random.default_rng(2))
    vals = [v for _t, v, _m in req["expect"]["rows"]]
    for i, (_t, _v, m) in enumerate(req["expect"]["rows"]):
        win = vals[max(0, i - 9): i + 1]
        assert m == pytest.approx(sum(win) / len(win))


def test_ingest_rows_and_acks():
    mix = gen.IngestMix(4, batch=10)
    assert {mix.write(1, i)["expect"][0] for i in range(16)} == {
        "gw_c1", "gwraw_c1", "gwjson_c1", "gwlp_c1", "TAG"}
    ddl = mix.write(0, 0, "ddl_csv")
    assert ddl["expect"][0] == "gw_c0" and len(ddl["expect"][1]) == 10
    assert "gw_c0" in gen.ddl_create(0)
    ack = json.dumps({"success": True,
                      "reason": "success, 10 record(s) inserted"}).encode()
    assert oracle.check(ddl, 200, ack)[0]
    assert not oracle.check(ddl, 200, ack.replace(b"10", b"9"))[0]
    lp = mix.write(2, 0, "lp")
    assert len(lp["expect"][1]) == 10          # 5 lines x 2 fields
    assert oracle.check(lp, 204, b"")[0]
    rb = gen.IngestMix.readback(0, ddl["expect"][1])
    assert "from gw_c0 " in rb["path"].replace("+", " ")
    body = json.dumps({"success": True, "data": {
        "rows": [list(r) for r in ddl["expect"][1]]}}).encode()
    assert oracle.check(rb, 200, body) == (True, "")
    # the gateway's cycle runs every write kind
    cycle = range(len(gen.WRITE_CYCLE))
    assert {gen.write_kind(i) for i in cycle} == {
        "ddl_csv", "raw_csv", "raw_ndjson", "lp", "lake_post"}


def test_lakehouse_model_and_rollup():
    lake = gen.LakeMix(2)
    state = lake.batch(0, 2000)
    dele = lake.correction(3, "delete", state)
    after = gen.apply_correction(state, "delete", dele)
    hit = ((state["name"] == dele["tag"]) & (state["time"] >= dele["lo"])
           & (state["time"] < dele["hi"]))
    assert len(after) == len(state) - int(hit.sum())
    upd = lake.correction(4, "update", state)
    after = gen.apply_correction(state, "update", upd)
    assert after["value"].sum() == pytest.approx(
        state["value"].sum() + upd["delta"] * int(
            ((state["name"] == upd["tag"]) & (state["time"] >= upd["lo"])
             & (state["time"] < upd["hi"])).sum()))
    mrg = lake.correction(5, "merge", state)
    after = gen.apply_correction(state, "merge", mrg)
    assert len(after) == len(state) + gen.LAKE_MERGE_ROWS // 2
    tags = lake.tags()[:3]
    exp = gen.rollup_expect(state, tags, gen.MINUTE)
    sub = state[state["name"].isin(tags)]
    assert sum(r[2] for r in exp) == len(sub)
    assert sum(r[3] for r in exp) == pytest.approx(sub["value"].sum())
    assert oracle.multiset_diff(list(state.itertuples(index=False)),
                                list(state.itertuples(index=False))) == ""
