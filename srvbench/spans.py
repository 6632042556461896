"""Span tracing from outside the engine, and the folds that turn spans
and Spark's event log into per-layer metrics.

``install`` patches module attributes and class methods of the engine
with wrappers that record a span per call (name, start, end, parent,
op id).  The engine code is not changed: every layer boundary the
benchmark measures is a public function the server or the lakehouse
path already calls through its module.  Spans stay in memory and are
written out once, when the traced process ends.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import threading
import time

from common import covered, exclusive

#: (module, attribute, span name).  "Class.method" attributes patch the
#: class.  io.register_views and lake.register_lake_views both run on
#: every SQL/lake request, so they share the sqlx.views span.
PATCHES = [
    ("neo_server_spark.server.http_api", "EngineHttpServer._route",
     "server.request"),
    ("neo_server_spark.tql.script", "TqlRunner.run", "tql.run"),
    ("neo_server_spark.tql.script", "parse_script_ex", "tql.parse"),
    ("neo_server_spark.tql.script", "validate_script_structure",
     "tql.validate"),
    ("neo_server_spark.tql.cache", "ResultCache.get_or_compute",
     "tql.cache"),
    *[("neo_server_spark.sqlx.lake", f, "sqlx.lake_build")
      for f in ("raw_sql", "calc_sql", "last_sql", "current_sql",
                "stat_sql", "pivot_sql")],
    ("neo_server_spark.sqlx.lake", "register_lake_views", "sqlx.views"),
    ("neo_server_spark.io", "register_views", "sqlx.views"),
    ("neo_server_spark.sqlx.dialect", "lake_sql", "sqlx.lake_sql"),
    ("neo_server_spark.sqlx.ddl", "insert_rows", "sqlx.ddl_insert"),
    *[("neo_server_spark.codecs.encoders", f, "codecs.encode")
      for f in ("to_csv", "to_json_envelope", "to_ndjson", "to_markdown",
                "to_box", "to_html", "to_text")],
    # the encoders' shared collect runs (and plans) the query: a child
    # span, so codecs.encode_ms keeps only the rendering
    ("neo_server_spark.codecs.encoders", "_collect", "codecs.collect"),
    ("neo_server_spark.io", "write_tag_table", "io.write"),
    ("neo_server_spark.io", "load_table", "io.load"),
    ("neo_server_spark.streaming.ingest", "decode_line_protocol",
     "streaming.decode_lp"),
    ("neo_server_spark.streaming.matview", "MatView.refresh",
     "streaming.refresh"),
    ("neo_server_spark.txlog", "write", "txlog.write"),
    ("neo_server_spark.txlog", "commit", "txlog.commit"),
    ("neo_server_spark.dml", "delete", "dml.delete"),
    ("neo_server_spark.dml", "update", "dml.update"),
    ("neo_server_spark.dml", "merge", "dml.merge"),
]

#: span names each workload must produce at least once in a traced run
EXPECTED = {
    "serve_read": {"server.request", "tql.run", "tql.parse", "tql.validate",
                   "tql.cache", "sqlx.lake_build", "sqlx.views",
                   "sqlx.lake_sql", "codecs.encode", "io.load"},
    "serve_ingest": {"server.request", "tql.run", "sqlx.ddl_insert",
                     "io.write", "streaming.decode_lp", "codecs.encode",
                     "sqlx.views", "sqlx.lake_sql"},
    "tql_batch": {"server.request", "tql.run", "tql.parse", "sqlx.views",
                  "sqlx.lake_sql", "codecs.encode"},
    "lakehouse": {"lake.op", "txlog.write", "txlog.commit",
                  "streaming.refresh", "dml.delete", "dml.update",
                  "dml.merge"},
}

#: header carrying the benchmark's op id on every HTTP request
OP_HEADER = "X-Srvbench-Op"


class Tracer:
    """In-memory span recorder; one parent stack per thread."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def op(self) -> str:
        return getattr(self._tls, "op", "")

    def start(self, name: str, op: str | None = None) -> int:
        if op is not None:
            self._tls.op = op
        st = self._stack()
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": st[-1] if st else None, "op": self.op()}
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int, **attrs) -> None:
        rec = self.spans[idx]
        rec["end"] = time.time()
        if attrs:
            rec.update(attrs)
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def wrap(self, fn, name: str, on_result=None, root=None):
        """``root(args)`` may return an op id, making this span an op's
        root; ``on_result(args, result)`` returns span attributes."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = self.start(name, root(args) if root else None)
            attrs = {}
            try:
                res = fn(*args, **kwargs)
                if on_result is not None:
                    attrs = on_result(args, kwargs, res)
                return res
            finally:
                self.end(idx, **attrs)
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


# ------------------------------------------------------------- install

def _encode_attrs(args, kwargs, res):
    return {"bytes": len(res.encode()) if isinstance(res, str) else 0}


def _ddl_attrs(args, kwargs, res):
    from neo_server_spark.sqlx import ddl
    return {"rows": int(res),
            "held": len(ddl._TABLES[str(args[1]).lower()]["rows"])}


def _refresh_attrs(args, kwargs, res):
    return {"mode": res.get("mode"), "delta_rows": res.get("delta_rows")}


def _dml_attrs(args, kwargs, res):
    return {"touched": res.get("files_touched", 0),
            "total": res.get("files_total", 0)}


_ATTRS = {"codecs.encode": _encode_attrs, "sqlx.ddl_insert": _ddl_attrs,
          "streaming.refresh": _refresh_attrs, "dml.delete": _dml_attrs,
          "dml.update": _dml_attrs, "dml.merge": _dml_attrs}


def install(tracer: Tracer) -> list[str]:
    """Wrap every PATCHES entry; returns the patched dotted names."""
    done = []
    for mod_name, attr, span in PATCHES:
        mod = importlib.import_module(mod_name)
        owner, fname = mod, attr
        if "." in attr:
            cls, fname = attr.split(".")
            owner = getattr(mod, cls)
        fn = getattr(owner, fname)
        root = None
        if span == "server.request":
            root = _request_root
        elif span == "tql.cache":
            fn = _traced_producer(tracer, fn)
        setattr(owner, fname, tracer.wrap(fn, span, _ATTRS.get(span), root))
        done.append(f"{mod_name}.{attr}")
    return done


def _request_root(args):
    """Op id of an HTTP request, and a Spark job group named after it."""
    api, handler = args[0], args[1]
    op = handler.headers.get(OP_HEADER) or f"anon-{id(handler)}"
    api.spark.sparkContext.setJobGroup(op, op)
    return op


def _traced_producer(tracer: Tracer, get_or_compute):
    """A cache miss runs the producer: record it as a child span."""
    @functools.wraps(get_or_compute)
    def inner(self, key, ttl, producer):
        def produce():
            idx = tracer.start("tql.cache.produce")
            try:
                return producer()
            finally:
                tracer.end(idx)
        return get_or_compute(self, key, ttl, produce)
    return inner


# ------------------------------------------------------------ event log

def read_eventlog(dirpath: str) -> dict:
    """Fold Spark's JSON event log into jobs (group, interval, stages)
    and per-stage task totals."""
    files = [f for f in glob.glob(os.path.join(dirpath, "**"),
                                  recursive=True) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log under {dirpath}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(max(files, key=os.path.getsize)) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "start": e["Submission Time"] / 1000.0,
                             "end": None}
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _stage())
                st["tasks"] = info["Number of Tasks"]
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                st = stages.setdefault(e["Stage ID"], _stage())
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def _stage() -> dict:
    return {"tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "job": None}


# ----------------------------------------------------------------- folds

def children(spans: list[dict]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(i)
    return kids


def self_ms(spans: list[dict], idx: int, kids: dict[int, list[int]],
            also=()) -> float:
    """A span's duration minus the part its children (and ``also``
    intervals, e.g. Spark jobs) cover, in ms."""
    s = spans[idx]
    ivs = [(spans[c]["start"], spans[c]["end"]) for c in kids.get(idx, ())]
    return 1000.0 * exclusive(s["start"], s["end"], ivs + list(also))


def fold(spans: list[dict], timed_ops: set[str], root: str,
         eventlog: dict | None, cores: int) -> dict:
    """Per-layer metrics over the timed ops.  Per-call means for the
    function-level ``*_ms`` metrics; per-op means for ``spark.*``.  The
    ``*self_ms`` metrics and codecs.encode_ms subtract child spans and
    the op's Spark job intervals.
    A layer the workload never reaches reads 0."""
    kids = children(spans)
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        if s["end"] is not None and s["op"] in timed_ops:
            by_name.setdefault(s["name"], []).append(i)

    def dur(i):
        return 1000.0 * (spans[i]["end"] - spans[i]["start"])

    def mean_ms(*names):
        idx = [i for n in names for i in by_name.get(n, ())]
        return sum(dur(i) for i in idx) / len(idx) if idx else 0.0

    def mean_attr(name, key):
        vals = [spans[i][key] for i in by_name.get(name, ())
                if spans[i].get(key) is not None]
        return sum(vals) / len(vals) if vals else 0.0

    jobs_by_op: dict[str, list[tuple[float, float]]] = {}
    stages_by_op: dict[str, list[dict]] = {}
    if eventlog:
        for jid, j in eventlog["jobs"].items():
            if j["group"] in timed_ops and j["end"] is not None:
                jobs_by_op.setdefault(j["group"], []).append(
                    (j["start"], j["end"]))
        for st in eventlog["stages"].values():
            j = eventlog["jobs"].get(st["job"])
            if j and j["group"] in timed_ops:
                stages_by_op.setdefault(j["group"], []).append(st)

    def mean_self(name):
        """Mean self time: span minus child spans and Spark jobs."""
        idx = by_name.get(name, [])
        return sum(self_ms(spans, i, kids, jobs_by_op.get(spans[i]["op"],
                                                          ()))
                   for i in idx) / len(idx) if idx else 0.0

    roots = by_name.get(root, [])
    n_ops = max(len(roots), 1)
    m = {}
    m["server.self_ms"] = mean_self("server.request")
    n_parse = len(by_name.get("tql.parse", ()))
    m["tql.parse_ms"] = (sum(dur(i) for n in ("tql.parse", "tql.validate")
                             for i in by_name.get(n, ())) / n_parse
                         if n_parse else 0.0)
    m["tql.run_self_ms"] = mean_self("tql.run")
    cache = by_name.get("tql.cache", [])
    misses = sum(1 for i in cache if any(
        spans[c]["name"] == "tql.cache.produce" for c in kids.get(i, ())))
    m["tql.cache_hits"] = float(len(cache) - misses)
    m["tql.cache_misses"] = float(misses)
    m["tql.cache_hit_ratio"] = (len(cache) - misses) / len(cache) \
        if cache else 0.0
    m["sqlx.views_ms"] = mean_ms("sqlx.views")
    m["sqlx.lake_sql_ms"] = mean_ms("sqlx.lake_sql")
    m["sqlx.ddl_insert_ms"] = mean_ms("sqlx.ddl_insert")
    m["sqlx.ddl_rows_held"] = mean_attr("sqlx.ddl_insert", "held")
    m["codecs.encode_ms"] = mean_self("codecs.encode")
    m["codecs.bytes_out"] = mean_attr("codecs.encode", "bytes")
    m["io.write_ms"] = mean_ms("io.write")
    m["streaming.decode_lp_ms"] = mean_ms("streaming.decode_lp")
    m["streaming.refresh_ms"] = mean_ms("streaming.refresh")
    refresh = by_name.get("streaming.refresh", [])
    m["streaming.refresh_full_ratio"] = (sum(
        1 for i in refresh if spans[i].get("mode") == "full")
        / len(refresh) if refresh else 0.0)
    # "full" refreshes report delta_rows -1: average the delta folds only
    deltas = [d for d in (spans[i].get("delta_rows") for i in refresh)
              if d is not None and d >= 0]
    m["streaming.delta_rows"] = sum(deltas) / len(deltas) if deltas else 0.0
    m["txlog.write_ms"] = mean_ms("txlog.write")
    m["txlog.commits"] = len(by_name.get("txlog.commit", ())) / n_ops
    for op in ("delete", "update", "merge"):
        m[f"dml.{op}_ms"] = mean_ms(f"dml.{op}")
    dml = [i for n in ("dml.delete", "dml.update", "dml.merge")
           for i in by_name.get(n, ())]
    total = sum(spans[i].get("total", 0) for i in dml)
    m["dml.touched_ratio"] = (sum(spans[i].get("touched", 0) for i in dml)
                              / total if total else 0.0)

    jobs = job_ms = gap = 0.0
    for i in roots:
        r = spans[i]
        ivs = jobs_by_op.get(r["op"], [])
        jobs += len(ivs)
        jm = 1000.0 * covered(r["start"], r["end"], ivs)
        job_ms += jm
        gap += dur(i) - jm
    m["spark.jobs_per_op"] = jobs / n_ops
    m["spark.job_ms"] = job_ms / n_ops
    m["spark.driver_gap_ms"] = gap / n_ops
    allst = [st for sts in stages_by_op.values() for st in sts]
    for key, out in (("run_ms", "spark.exec_run_ms"),
                     ("cpu_ms", "spark.exec_cpu_ms"),
                     ("gc_ms", "spark.gc_ms"),
                     ("shuffle_bytes", "spark.shuffle_bytes"),
                     ("spill_bytes", "spark.spill_bytes")):
        m[out] = sum(st[key] for st in allst) / n_ops
    m["spark.single_task_stages"] = (sum(
        1 for st in allst if st["tasks"] == 1) / n_ops if cores > 1 else 0.0)
    return m


def missing_spans(spans: list[dict], workload: str) -> list[str]:
    """Expected span names the traced run never produced: an unwrapped
    or unreached layer must fail the run instead of reading as zero."""
    seen = {s["name"] for s in spans}
    return sorted(EXPECTED[workload] - seen)
