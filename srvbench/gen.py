"""Seeded input generation: tables in the engine's sf-dir layout, request
mixes and payloads.  Every expected answer is computed here from the
generated frames (numpy/pandas), never from the engine.

The same seed gives byte-identical inputs: all randomness flows from one
``numpy.random.default_rng(seed)`` per generator call, and parquet files
are written without creation timestamps.
"""

from __future__ import annotations

import json
import os
import urllib.parse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in epoch-ns: base of every generated time axis
BASE_NS = 1_704_067_200 * 1_000_000_000
SEC = 1_000_000_000
MINUTE = 60 * SEC

#: the engine's sf-dir tables (neo_server_spark.io.TABLES)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def tag_name(j: int) -> str:
    return f"sensor-{j:03d}"


# ----------------------------------------------------------------- tables

def make_events(seed: int, n_tags: int, rows_per_tag: int) -> pd.DataFrame:
    """A many-tag series table sorted by (name, time).  Tag j's k-th
    sample sits at BASE + k s + j*(1 s / n_tags), so every timestamp is
    unique table-wide and a multiple of 1 µs (exact through the engine's
    µs timestamp normalization).  Values are per-tag random walks in
    [0, 1000) with 3 decimals."""
    rng = np.random.default_rng([seed, 1])
    step = SEC // n_tags // 1000 * 1000
    frames = []
    for j in range(n_tags):
        k = np.arange(rows_per_tag, dtype=np.int64)
        walk = rng.uniform(100, 900) + np.cumsum(
            rng.normal(0, 2.0, rows_per_tag))
        frames.append(pd.DataFrame({
            "name": tag_name(j),
            "time": BASE_NS + k * SEC + j * step,
            "value": np.round(np.clip(walk, 0, 999.999), 3),
        }))
    ev = pd.concat(frames, ignore_index=True)
    return ev


def write_sf_dir(path: str, seed: int, events: pd.DataFrame,
                 row_groups: int = 8) -> None:
    """Write ``events`` plus small seeded companions for every other
    engine table (same column names and types as the driver's TESTDATA)
    so the server's view registration finds a complete sf-dir."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = len(events)
    ev = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array((events["time"].to_numpy() // 1000)
                       .astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1000, n, dtype=np.int64)),
        "event_type": pa.array(events["name"].to_numpy(), pa.string()),
        "value": pa.array(events["value"].to_numpy(), pa.float64()),
        "props": pa.array([f'{{"k":{x}}}' for x in
                           rng.integers(0, 9, n)], pa.string()),
    })
    _write(ev, os.path.join(path, "events.parquet"),
           row_group_size=max(1, -(-n // row_groups)))
    i64, i32 = pa.int64(), pa.int32()
    f64, s = pa.float64(), pa.string()
    ts_us = pa.timestamp("us")

    def ids(m):
        return np.arange(1, m + 1, dtype=np.int64)

    def words(m, stem):
        return [f"{stem}#{x:05d}" for x in rng.integers(0, 99999, m)]

    def days(m):
        return ((BASE_NS // 1000) + rng.integers(0, 365, m) * 86_400_000_000
                ).astype("datetime64[us]")

    small = {
        "region": {"r_regionkey": (np.arange(5, dtype=np.int32), i32),
                   "r_name": (words(5, "region"), s)},
        "nation": {"n_nationkey": (np.arange(25, dtype=np.int32), i32),
                   "n_name": (words(25, "nation"), s),
                   "n_regionkey": (rng.integers(0, 5, 25).astype(np.int32),
                                   i32)},
        "customer": {"c_custkey": (ids(150), i64),
                     "c_name": (words(150, "cust"), s),
                     "c_nationkey": (rng.integers(0, 25, 150)
                                     .astype(np.int32), i32),
                     "c_acctbal": (np.round(rng.uniform(0, 9999, 150), 2),
                                   f64),
                     "c_mktsegment": (words(150, "seg"), s)},
        "supplier": {"s_suppkey": (ids(10), i64),
                     "s_name": (words(10, "supp"), s),
                     "s_nationkey": (rng.integers(0, 25, 10)
                                     .astype(np.int32), i32),
                     "s_acctbal": (np.round(rng.uniform(0, 9999, 10), 2),
                                   f64)},
        "part": {"p_partkey": (ids(200), i64),
                 "p_name": (words(200, "part"), s),
                 "p_brand": (words(200, "brand"), s),
                 "p_type": (words(200, "type"), s),
                 "p_size": (rng.integers(1, 50, 200).astype(np.int32), i32),
                 "p_retailprice": (np.round(rng.uniform(1, 2000, 200), 2),
                                   f64)},
        "orders": {"o_orderkey": (ids(1500), i64),
                   "o_custkey": (rng.integers(1, 151, 1500), i64),
                   "o_orderstatus": (words(1500, "st"), s),
                   "o_totalprice": (np.round(rng.uniform(1, 9e4, 1500), 2),
                                    f64),
                   "o_orderdate": (days(1500), ts_us),
                   "o_orderpriority": (words(1500, "prio"), s)},
        "lineitem": {"l_orderkey": (rng.integers(1, 1501, 6000), i64),
                     "l_partkey": (rng.integers(1, 201, 6000), i64),
                     "l_suppkey": (rng.integers(1, 11, 6000), i64),
                     "l_linenumber": (rng.integers(1, 8, 6000)
                                      .astype(np.int32), i32),
                     "l_quantity": (rng.integers(1, 51, 6000)
                                    .astype(np.float64), f64),
                     "l_extendedprice": (np.round(
                         rng.uniform(1, 9e4, 6000), 2), f64),
                     "l_discount": (np.round(rng.uniform(0, .1, 6000), 2),
                                    f64),
                     "l_tax": (np.round(rng.uniform(0, .08, 6000), 2), f64),
                     "l_returnflag": (words(6000, "rf"), s),
                     "l_linestatus": (words(6000, "ls"), s),
                     "l_shipdate": (days(6000), ts_us)},
        "documents": {"doc_id": (ids(100), i64),
                      "text": (words(100, "doc text"), s),
                      "lang": (words(100, "lang"), s),
                      "source": (words(100, "src"), s),
                      "n_chars": (rng.integers(10, 999, 100), i64)},
    }
    for name, cols in small.items():
        _write(pa.table({c: pa.array(v, t) for c, (v, t) in cols.items()}),
               os.path.join(path, f"{name}.parquet"))
    emb = rng.normal(size=(100, 8)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(ids(100)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, 100).astype(np.int32)),
    }), os.path.join(path, "embeddings.parquet"))


def _write(table: pa.Table, path: str, row_group_size: int | None = None):
    pq.write_table(table.replace_schema_metadata(None), path,
                   row_group_size=row_group_size, compression="snappy",
                   write_statistics=True)


# --------------------------------------------------------------- requests

def _q(path: str, **params) -> str:
    return path + "?" + urllib.parse.urlencode(params)


def _req(kind: str, cls: str, method: str, path: str, body: str | None,
         expect, ctype: str = "text/plain") -> dict:
    return {"kind": kind, "cls": cls, "method": method, "path": path,
            "body": body.encode() if body is not None else None,
            "ctype": ctype, "expect": expect}


def _in_range(g: pd.DataFrame, lo: int, hi: int) -> pd.DataFrame:
    return g[(g["time"] >= lo) & (g["time"] <= hi)]


#: serve_read dashboard: request kinds per pass (a "dashboard refresh").
#: An assumed shape (no measured trace of dashboard traffic exists): every
#: read kind the server offers dashboards at least once, the time-range
#: reads (lake raw, /db/query json, MAP_MOVAVG) twice, and five cached
#: panels, so cached scripts are about a third of the requests
READ_PASS = (["lake_raw"] * 2 + ["lake_calc", "lake_last", "lake_stat",
             "lake_tags"] + ["dbq_json"] * 2 + ["dbq_csv"]
             + ["tql_movavg"] * 2 + ["panel"] * 5)
#: panel key space (fits tql.cache.default_cache's 256 entries) and skew.
#: The exponent is assumed; at 1.1 the 40 timed panel requests of a run
#: (8 passes) hit 25 times and miss 15, so both paths are measured
PANEL_KEYS = 48
PANEL_ZIPF_S = 1.1
#: seeds the seed-independent structure of serve_read: request order per
#: pass and the panel-key reuse schedule
PANEL_SCHEDULE_SEED = 20231


class ReadMix:
    """Seeded request generator for ``serve_read`` over one events frame."""

    def __init__(self, seed: int, ev: pd.DataFrame):
        self.ev = ev
        self.tags = sorted(ev["name"].unique())
        self.rows_per_tag = len(ev) // len(self.tags)
        self.seed = seed
        w = 1.0 / np.arange(1, PANEL_KEYS + 1) ** PANEL_ZIPF_S
        # the key-reuse schedule is the same for every seed, so the
        # hit/miss pattern does not vary between seeds; the seed picks
        # what each panel key shows
        self._panel_keys = np.random.default_rng(PANEL_SCHEDULE_SEED) \
            .choice(PANEL_KEYS, size=10_000, p=w / w.sum()).tolist()
        self._by_tag = {t: g for t, g in ev.groupby("name", sort=False)}

    def _window(self, rng, span_s: int):
        lo = BASE_NS + int(rng.integers(0, self.rows_per_tag - span_s)) * SEC
        return lo, lo + (span_s - 1) * SEC + SEC // 2

    def _tag(self, rng):
        return self.tags[int(rng.integers(0, len(self.tags)))]

    def build(self, kind: str, rng, panel_key: int | None = None) -> dict:
        ev = self.ev
        if kind == "lake_raw":
            t = self._tag(rng)
            lo, hi = self._window(rng, 300)
            g = _in_range(self._by_tag[t], lo, hi)
            return _req(kind, "read", "GET", _q(
                "/lakes/values/raw", tag_name=t, start_time=lo,
                end_time=hi, date_format="NANOSECOND"), None,
                {"tag": t, "rows": list(zip(g["time"].tolist(),
                                            g["value"].tolist()))})
        if kind == "lake_calc":
            t = self._tag(rng)
            lo, hi = self._window(rng, 1800)
            g = _in_range(self._by_tag[t], lo, hi)
            b = g["time"] - g["time"] % MINUTE
            agg = g.groupby(b)["value"].mean()
            return _req(kind, "read", "GET", _q(
                "/lakes/values/calculated", tag_name=t, start_time=lo,
                end_time=hi, calc_mode="avg", interval_type="MIN",
                interval_value=1, date_format="NANOSECOND"), None,
                {"tag": t, "rows": list(zip(agg.index.tolist(),
                                            agg.tolist()))})
        if kind == "lake_last":
            tags = sorted(set(self._tag(rng) for _ in range(3)))
            lo, hi = self._window(rng, 900)
            rows = []
            for t in tags:
                g = _in_range(self._by_tag[t], lo, hi)
                i = g["time"].idxmax()
                rows.append((t, int(g.at[i, "time"]),
                             float(g.at[i, "value"])))
            return _req(kind, "read", "GET", _q(
                "/lakes/values/last", tag_name=",".join(tags),
                start_time=lo, end_time=hi, date_format="NANOSECOND"),
                None, {"rows": rows})
        if kind == "lake_stat":
            tags = sorted(set(self._tag(rng) for _ in range(2)))
            rows = [(t, len(self._by_tag[t]),
                     float(self._by_tag[t]["value"].min()),
                     float(self._by_tag[t]["value"].max())) for t in tags]
            return _req(kind, "read", "GET", _q(
                "/lakes/values/stat", tag_name=",".join(tags)), None,
                {"rows": rows})
        if kind == "lake_tags":
            return _req(kind, "read", "GET", "/lakes/tags", None,
                        {"tags": self.tags})
        if kind in ("dbq_json", "dbq_csv"):
            t = self._tag(rng)
            lo, hi = self._window(rng, 240)
            g = _in_range(self._by_tag[t], lo, hi)
            fmt = "json" if kind == "dbq_json" else "csv"
            return _req(kind, "read", "GET", _q(
                "/db/query", q="select ts, value from events where "
                "event_type = ? and ts between ? and ? order by ts",
                p=json.dumps([t, lo, hi]), format=fmt), None,
                {"rows": list(zip(g["time"].tolist(), g["value"].tolist()))})
        if kind == "tql_movavg":
            t = self._tag(rng)
            lo, hi = self._window(rng, 120)
            g = _in_range(self._by_tag[t], lo, hi)
            ma = g["value"].rolling(10, min_periods=1).mean()
            src = (f"SQL(\"select ts, value from events where event_type = "
                   f"'{t}' and ts between {lo} and {hi} order by ts\")\n"
                   f"MAP_MOVAVG(2, value(1), 10, noWait(true))\nCSV()")
            return _req(kind, "read", "POST", "/web/api/tql", src,
                        {"rows": list(zip(g["time"].tolist(),
                                          g["value"].tolist(),
                                          ma.tolist()))})
        if kind == "panel":
            prng = np.random.default_rng([self.seed, 7, panel_key])
            tags = sorted(set(self.tags[int(i)] for i in
                              prng.integers(0, len(self.tags), 4)))
            lo, hi = self._window(prng, 1200)
            sel = ev[ev["name"].isin(tags) & (ev["time"] >= lo)
                     & (ev["time"] <= hi)]
            agg = sel.groupby("name")["value"].agg(["count", "mean", "max"])
            inlist = ", ".join(f"'{x}'" for x in tags)
            src = (f"SQL(\"select event_type, count(*) as n, avg(value) as m,"
                   f" max(value) as mx from events where event_type in "
                   f"({inlist}) and ts between {lo} and {hi} group by "
                   f"event_type order by event_type\")\n"
                   f"CSV(cache('panel-{panel_key}', '300s'))")
            return _req(kind, "read", "POST", "/web/api/tql", src,
                        {"rows": [(n, int(r["count"]), float(r["mean"]),
                                   float(r["max"]))
                                  for n, r in agg.iterrows()]})
        raise ValueError(f"unknown read kind {kind}")

    def one_pass(self, p: int, warm: bool = False) -> list[dict]:
        """Dashboard refresh ``p``: READ_PASS in an order that is the same
        for every seed (like the panel keys); the seed picks each
        request's parameters.  A warm pass uses panel keys outside the
        timed key space."""
        order = np.random.default_rng([PANEL_SCHEDULE_SEED, p, warm]) \
            .permutation(len(READ_PASS))
        kinds = [READ_PASS[i] for i in order]
        rng = np.random.default_rng([self.seed, 3, p, warm])
        n = READ_PASS.count("panel")
        keys = iter(range(PANEL_KEYS + 1, PANEL_KEYS + 1 + n) if warm else
                    self._panel_keys[p * n:(p + 1) * n])
        return [self.build(k, rng, next(keys) if k == "panel" else None)
                for k in kinds]

    def warmup(self) -> list[dict]:
        """One request of every kind, with parameters not used later."""
        rng = np.random.default_rng([self.seed, 4])
        # the warm-up panel key lies outside the timed key space, so the
        # timed passes start with a cold cache
        return [self.build(k, rng, PANEL_KEYS) for k in
                dict.fromkeys(READ_PASS)]


# ------------------------------------------------------------ serve_ingest

#: the gateway and the warm-up writer each write their own tables: a DDL
#: tag table gw_c<k> and the parquet tables below.  POST /lakes/values
#: always lands in <fs-root>/TAG.
DDL_PREFIX = "gw"
PARQUET_TABLES = {"raw_csv": "gwraw", "raw_ndjson": "gwjson", "lp": "gwlp"}
LAKE_DIR = "TAG"
#: the gateway's write cycle.  An assumed share (no measured trace of
#: gateway traffic exists): three writes in four take the DDL journey,
#: which the reference treats as its main one; the fourth rotates through
#: the parquet-path kinds, so each of them runs every 16 writes.
WRITE_CYCLE = (["ddl_csv"] * 3 + ["raw_csv"] + ["ddl_csv"] * 3 + ["lp"]
               + ["ddl_csv"] * 3 + ["raw_ndjson"] + ["ddl_csv"] * 3
               + ["lake_post"])
#: writes per gateway cycle (the pass ``wall_s`` times)
PASS_WRITES = 4
#: the gateway reads its own DDL rows back after every k-th write
READBACK_EVERY = 4
#: rows per write.  The sizing probe the defect notes quote used 500; at
#: 500 the DDL table holds 2.5 times the rows by the end of a run, the
#: median op lands on the steep end of the insert-cost curve, and the
#: gated figures spread 0.12-0.36 over five seeds against 0.09-0.14 at 200
#: (4-core box)
INGEST_BATCH = 200
#: gateway ids: the timed gateway, and the warm-up writer (own tags and
#: tables, so warm-up rows never mix with timed ones)
GATEWAY = 0
WARM_CONN = 99


def ddl_create(conn: int) -> str:
    return (f"CREATE TAG TABLE {target('ddl_csv', conn)} (name varchar(80) "
            "primary key, time datetime basetime, value double summarized)")


def target(kind: str, conn: int) -> str:
    """The parquet directory (or DDL table) a write kind lands in."""
    if kind == "ddl_csv":
        return f"{DDL_PREFIX}_c{conn}"
    if kind == "lake_post":
        return LAKE_DIR
    return f"{PARQUET_TABLES[kind]}_c{conn}"


def write_kind(i: int) -> str:
    return WRITE_CYCLE[i % len(WRITE_CYCLE)]


class IngestMix:
    """Seeded per-gateway traffic for ``serve_ingest``.

    Gateway ``c`` owns tag names carrying ``c`` and a private time axis,
    so every acknowledged row is attributable and exact-checkable.
    """

    def __init__(self, seed: int, batch: int = INGEST_BATCH):
        self.seed, self.batch = seed, batch

    def write(self, conn: int, i: int, kind: str | None = None) -> dict:
        """The ``i``-th write of connection ``conn`` (kind from
        write_kind unless given).  ``expect`` = (target, rows) with rows as
        (name, time, value) tuples."""
        kind = kind or write_kind(i)
        tgt = target(kind, conn)
        rng = np.random.default_rng([self.seed, 5, conn, i])
        b = self.batch
        t0 = BASE_NS + (conn * 1_000_000 + i * b) * 1_000_000
        times = (t0 + np.arange(b, dtype=np.int64) * 1_000_000).tolist()
        vals = np.round(rng.uniform(-50, 150, b), 3).tolist()
        if kind == "ddl_csv":
            name = f"gw-c{conn}"
            rows = [(name, t, v) for t, v in zip(times, vals)]
            body = "".join(f"{n},{t},{v!r}\n" for n, t, v in rows)
            return _req(kind, "write", "POST", _q(
                f"/db/write/{tgt}", format="csv"), body, (tgt, rows),
                "text/csv")
        if kind == "raw_csv":
            names = [f"raw-c{conn}-{k}" for k in rng.integers(0, 4, b)]
            rows = list(zip(names, times, vals))
            body = "name,time,value\n" + "".join(
                f"{n},{t},{v!r}\n" for n, t, v in rows)
            return _req(kind, "write", "POST", _q(
                f"/db/write/{tgt}", format="csv", header="columns"), body,
                (tgt, rows), "text/csv")
        if kind == "raw_ndjson":
            names = [f"json-c{conn}-{k}" for k in rng.integers(0, 4, b)]
            rows = list(zip(names, times, vals))
            body = "".join(json.dumps({"name": n, "time": t, "value": v})
                           + "\n" for n, t, v in rows)
            return _req(kind, "write", "POST", _q(
                f"/db/write/{tgt}", format="ndjson"), body, (tgt, rows),
                "application/x-ndjson")
        if kind == "lp":
            # one line carries two numeric fields -> two rows
            half = times[: b // 2]
            loads = rng.integers(0, 100, len(half)).tolist()
            meas = f"gw{conn}"
            body = "".join(f"{meas},host=h{conn} temp={v!r},load={ld}i {t}\n"
                           for t, v, ld in zip(half, vals, loads))
            rows = ([(f"{meas}.temp", t, v) for t, v in zip(half, vals)]
                    + [(f"{meas}.load", t, float(ld))
                       for t, ld in zip(half, loads)])
            return _req(kind, "write", "POST", _q(
                "/metrics/write", db=tgt), body, (tgt, rows))
        if kind == "lake_post":
            names = [f"lake-c{conn}-{k}" for k in rng.integers(0, 4, b)]
            rows = list(zip(names, times, vals))
            body = json.dumps({"values": [{"Tag": n, "Ts": t, "Val": v}
                                          for n, t, v in rows]})
            return _req(kind, "write", "POST", "/lakes/values", body,
                        (tgt, rows), "application/json")
        raise ValueError(f"unknown write kind {kind}")

    @staticmethod
    def readback(conn: int, rows: list[tuple]) -> dict:
        """Read one DDL batch back through /db/query and expect it
        exactly."""
        name = rows[0][0]
        lo, hi = rows[0][1], rows[-1][1]
        return _req("readback", "read", "GET", _q(
            "/db/query", q=f"select name, time, value from "
            f"{target('ddl_csv', conn)} "
            f"where name = '{name}' and time between {lo} and {hi}",
            format="json"), None, {"rows": rows})


# -------------------------------------------------------------- tql_batch

TQL_BATCH = ("diff", "movavg", "changed", "timewindow", "histogram")


def tql_batch(seed: int, ev: pd.DataFrame) -> list[dict]:
    """The fixed heavy-script list: each script scans a seeded ~60% time
    slice of the whole table in global time order (the single-task
    ``__seq`` windows) and ends in a small aggregate."""
    rng = np.random.default_rng([seed, 6])
    t_lo, t_hi = int(ev["time"].min()), int(ev["time"].max())
    span = t_hi - t_lo
    out = []
    for kind in TQL_BATCH:
        lo = t_lo + int(rng.uniform(0, 0.4) * span)
        hi = lo + int(0.6 * span)
        sel = ev[(ev["time"] >= lo) & (ev["time"] <= hi)].sort_values(
            "time")
        v = sel["value"].to_numpy()
        where = f"ts between {lo} and {hi}"
        if kind == "diff":
            d = np.diff(v)
            src = (f"SQL(\"select ts, value from events where {where} "
                   f"order by ts\")\nMAP_DIFF(2, value(1))\n"
                   f"GROUP(by(1), count(value(2)), sum(value(2)), "
                   f"max(value(2)))\nCSV()")
            exp = [[1, len(d), float(d.sum()), float(d.max())]]
        elif kind == "movavg":
            ma = pd.Series(v).rolling(50, min_periods=1).mean().to_numpy()
            src = (f"SQL(\"select ts, value from events where {where} "
                   f"order by ts\")\nMAP_MOVAVG(2, value(1), 50, "
                   f"noWait(true))\nGROUP(by(1), count(value(2)), "
                   f"sum(value(2)), min(value(2)))\nCSV()")
            exp = [[1, len(ma), float(ma.sum()), float(ma.min())]]
        elif kind == "changed":
            st = np.floor(v / 25.0)
            keep = np.concatenate([[True], st[1:] != st[:-1]])
            src = (f"SQL(\"select ts, floor(value / 25) from events where "
                   f"{where} order by ts\")\nFILTER_CHANGED(value(1))\n"
                   f"GROUP(by(1), count(value(1)), sum(value(1)))\nCSV()")
            exp = [[1, int(keep.sum()), float(st[keep].sum())]]
        elif kind == "timewindow":
            period = 20 * MINUTE
            w_lo = lo - lo % period
            w_hi = hi - hi % period + period
            t = sel["time"].to_numpy()
            b = pd.Series(v).groupby((t - w_lo) // period)
            avg, mx = b.mean(), b.max()
            exp = [[w_lo + k * period, float(avg[k]), float(mx[k])]
                   for k in range((w_hi - w_lo) // period)]
            src = (f"SQL(\"select ts, value from events where {where} "
                   f"order by ts\")\nGROUP(by(value(0), timewindow("
                   f"{w_lo}, {w_hi}, period('20m'))), avg(value(1)), "
                   f"max(value(1)))\nCSV()")
        else:
            edges = np.arange(0, 1001, 50)
            counts, _ = np.histogram(v, bins=edges)
            src = (f"SQL(\"select value from events where {where}\")\n"
                   f"HISTOGRAM(value(0), bins(0, 1000, 50))\nCSV()")
            exp = [[float(edges[i]), float(edges[i + 1]), int(c)]
                   for i, c in enumerate(counts)]
        out.append(_req(f"batch_{kind}", "read", "POST", "/web/api/tql", src,
                        {"rows": exp}))
    return out


# -------------------------------------------------------------- lakehouse

#: sizes are assumed (no measured trace of lakehouse upkeep exists): an
#: append is one minute of data in a 500-row batch, the batch size of the
#: sizing probe's writes; a late correction is small next to it (a merge of 60 rows, half of them
#: updates; a delete/update covers one tag over two minutes)
LAKE_TAGS = 32
LAKE_SEED_ROWS = 20_000
LAKE_APPEND_ROWS = 500
LAKE_MERGE_ROWS = 60
DML_OPS = ("delete", "update", "merge")


class LakeMix:
    """Seeded lakehouse traffic: a base load, per-round appends of the
    next minute of data, and late corrections (delete/update/merge)."""

    def __init__(self, seed: int):
        self.seed = seed

    def tags(self) -> list[str]:
        return [tag_name(j) for j in range(LAKE_TAGS)]

    def batch(self, rnd: int, n: int) -> pd.DataFrame:
        """Minute ``rnd`` of data (round 0 = the 10-minute seed load)."""
        rng = np.random.default_rng([self.seed, 8, rnd])
        span = 10 * MINUTE if rnd == 0 else MINUTE
        start = BASE_NS + (0 if rnd == 0 else (9 + rnd) * MINUTE)
        t = np.sort(rng.choice(span // 1_000_000, n, replace=False)
                    ).astype(np.int64) * 1_000_000 + start
        return pd.DataFrame({
            "name": [tag_name(int(j)) for j in rng.integers(0, LAKE_TAGS, n)],
            "time": t,
            "value": np.round(rng.normal(100, 20, n), 3)})

    def correction(self, rnd: int, op: str, state: pd.DataFrame) -> dict:
        """Arguments of round ``rnd``'s late correction ``op``
        (delete | update | merge)."""
        rng = np.random.default_rng([self.seed, 9, rnd, DML_OPS.index(op)])
        tag = tag_name(int(rng.integers(0, LAKE_TAGS)))
        lo = BASE_NS + int(rng.integers(0, 9 + rnd)) * MINUTE
        hi = lo + 2 * MINUTE
        if op == "merge":
            old = state.sample(n=LAKE_MERGE_ROWS // 2,
                               random_state=np.random.RandomState(
                                   int(rng.integers(0, 2**31))))
            fresh = self.batch(10_000 + rnd, LAKE_MERGE_ROWS // 2)
            fresh["time"] += 1  # odd ns: never collides with a stored key
            src = pd.concat([old[["name", "time"]].assign(
                value=np.round(rng.normal(500, 5, len(old)), 3)), fresh],
                ignore_index=True)
            return {"source": src}
        return {"tag": tag, "lo": lo, "hi": hi,
                "delta": round(float(rng.uniform(1, 5)), 3)}

    def query_args(self, rnd: int) -> dict:
        rng = np.random.default_rng([self.seed, 10, rnd])
        tags = sorted(set(tag_name(int(j))
                          for j in rng.integers(0, LAKE_TAGS, 6)))
        return {"tags": tags}


def apply_correction(state: pd.DataFrame, op: str, a: dict) -> pd.DataFrame:
    """The pandas model of one DML statement on the base table."""
    if op == "merge":
        src = a["source"]
        key = ["name", "time"]
        m = state.merge(src, on=key, how="left", suffixes=("", "_new"))
        m["value"] = m["value_new"].where(m["value_new"].notna(),
                                          m["value"])
        kept = m[["name", "time", "value"]]
        new = src[~src.set_index(key).index.isin(state.set_index(key).index)]
        return pd.concat([kept, new], ignore_index=True)
    hit = ((state["name"] == a["tag"]) & (state["time"] >= a["lo"])
           & (state["time"] < a["hi"]))
    if op == "delete":
        return state[~hit].reset_index(drop=True)
    out = state.copy()
    out.loc[hit, "value"] = out.loc[hit, "value"] + a["delta"]
    return out


def rollup_expect(state: pd.DataFrame, tags: list[str],
                  period_ns: int) -> list[tuple]:
    """(name, bucket, count, sum, min, max) per (tag, period bucket)."""
    s = state[state["name"].isin(tags)]
    b = s["time"] - s["time"] % period_ns
    g = s.groupby([s["name"], b])["value"].agg(["count", "sum", "min",
                                                "max"])
    return [(n, int(t), int(r["count"]), float(r["sum"]), float(r["min"]),
             float(r["max"])) for (n, t), r in g.iterrows()]
