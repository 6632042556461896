"""The three server workloads: closed loops of seeded requests against a
fresh server, in passes (one dashboard refresh, one gateway cycle, one
run of the script list).  A pass is the fixed work list ``wall_s``
times; a run does the number of passes ``--seconds`` allowed when
the benchmark was written (common.NOMINAL_PASS_S).
Values are checked after the timed region, so checking never delays the
next request.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import gen
import oracle
from common import OpLog, cores, now, passes_for
from server import ServerError, ServerProc, call


class Run:
    """Everything one server launch produced."""

    def __init__(self):
        self.oplog = OpLog()
        self.checked: list[tuple] = []
        self.timed_ops: set[str] = set()
        self.pass_walls: list[float] = []
        self.measured_s = 0.0
        self.setup_s = 0.0
        self.peak_mb = 0.0
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.extra: dict = {}

    def record(self, req, status, body, ms, op, timed):
        self.checked.append((req, status, body, op, timed, ms))
        if timed:
            self.timed_ops.add(op)

    def settle(self):
        """Check every recorded response; fill the op log."""
        for req, status, body, op, timed, ms in self.checked:
            ok, why = oracle.check(req, status, body)
            self.outcome(ok, f"{op} {req['kind']}: {why}")
            if timed:
                rows = len(req["expect"][1]) if req["cls"] == "write" else 0
                self.oplog.add(req["kind"], req["cls"], ms, ok, rows, op)
        self.checked = []

    def outcome(self, ok: bool, why: str):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(why)


class ServerWorkload:
    """Base: data prep, launch, warm-up, timed passes, verification."""

    name = ""

    def prepare(self, scratch: str) -> None:
        raise NotImplementedError

    def warmup(self, port: int, run: Run) -> None:
        raise NotImplementedError

    def run_pass(self, port: int, p: int, run: Run) -> None:
        raise NotImplementedError

    def timed(self, port: int, seconds: float, run: Run) -> None:
        """A fixed number of passes, back to back (see passes_for)."""
        for p in range(passes_for(self.name, seconds)):
            t = now()
            self.run_pass(port, p, run)
            run.pass_walls.append(now() - t)
            run.measured_s += run.pass_walls[-1]

    def verify(self, port: int, run: Run) -> None:
        """Checks outside the timed region (default: none)."""

    def probe(self) -> dict:
        """The setup probe: the first request that must return 200."""
        return gen._req("lake_tags", "read", "GET", "/lakes/tags", None,
                        {"tags": self.tags})

    def _send(self, port, req, op, run, timed):
        status, body, ms = call(port, req, op)
        run.record(req, status, body, ms, op, timed)
        return status

    def serve_once(self, scratch: str, seconds: float, traced: bool,
                   tag: str) -> Run:
        run = Run()
        d = os.path.join(scratch, tag)
        os.makedirs(d)
        self.fs_root = os.path.join(d, "fs")
        os.makedirs(self.fs_root)
        srv = ServerProc(d, self.sf_dir, self.fs_root, traced)
        try:
            port = srv.wait_listening()
            probe = self.probe()
            status, body, ms = call(port, probe, "setup")
            run.setup_s = now() - srv.t0
            run.record(probe, status, body, ms, "setup", False)
            if status != 200:
                raise ServerError(f"setup probe HTTP {status}: {body[:200]}")
            self.warmup(port, run)
            self.timed(port, seconds, run)
            self.verify(port, run)
        finally:
            run.peak_mb = srv.stop()
        run.settle()
        run.spans_path = srv.spans_path
        run.eventlog = srv.eventlog
        return run


class ServeRead(ServerWorkload):
    """Dashboards polling: lake reads, /db/query and per-tag/panel TQL."""

    name = "serve_read"
    N_TAGS, ROWS_PER_TAG = 64, 2000

    def __init__(self, seed: int):
        self.seed = seed
        self.conns = min(4, cores())

    def prepare(self, scratch):
        self.sf_dir = os.path.join(scratch, "sf")
        ev = gen.make_events(self.seed, self.N_TAGS, self.ROWS_PER_TAG)
        gen.write_sf_dir(self.sf_dir, self.seed, ev)
        self.mix = gen.ReadMix(self.seed, ev)
        self.tags = self.mix.tags

    def _fan(self, port, reqs, prefix, run, timed):
        """Send ``reqs`` over ``self.conns`` connections; wait for all."""
        with ThreadPoolExecutor(self.conns) as pool:
            list(pool.map(lambda i: self._send(
                port, reqs[i], f"{prefix}-{i}", run, timed),
                range(len(reqs))))

    def warmup(self, port, run):
        # every request kind once, then one untimed dashboard refresh
        self._fan(port, self.mix.warmup(), "warm", run, False)
        self._fan(port, self.mix.one_pass(0, warm=True), "warm-pass", run,
                  False)

    def run_pass(self, port, p, run):
        self._fan(port, self.mix.one_pass(p), f"p{p}", run, True)


class ServeIngest(ServerWorkload):
    """One gateway posting batches, one request at a time, and reading its
    own DDL rows back after every READBACK_EVERY-th write.  One gateway:
    with two, each op's latency depended on what the other's Spark jobs
    were doing, and the figures moved by 18-26% between seeds."""

    name = "serve_ingest"

    def __init__(self, seed: int):
        self.seed = seed
        self.mix = gen.IngestMix(seed)

    def prepare(self, scratch):
        self.sf_dir = os.path.join(scratch, "sf")
        ev = gen.make_events(self.seed, 8, 500)
        gen.write_sf_dir(self.sf_dir, self.seed, ev)
        self.tags = sorted(ev["name"].unique())

    def serve_once(self, scratch, seconds, traced, tag):
        self.acked: dict[str, list[tuple]] = {}
        self.writes_acked = 0
        return super().serve_once(scratch, seconds, traced, tag)

    def _send(self, port, req, op, run, timed):
        status = super()._send(port, req, op, run, timed)
        if req["cls"] == "write" and status in (200, 204):
            tgt, rows = req["expect"]
            self.acked.setdefault(tgt, []).extend(rows)
            self.writes_acked += req["kind"] != "ddl_csv"
        return status

    def warmup(self, port, run):
        for c in (gen.GATEWAY, gen.WARM_CONN):
            create = gen._req("ddl_create", "write", "GET", gen._q(
                "/db/query", q=gen.ddl_create(c)), None, None)
            status, body, _ = call(port, create, f"warm-create-c{c}")
            run.outcome(status == 200 and b'"success":true' in body,
                        f"create table: HTTP {status} {body[:200]!r}")
        # one write of every kind from the warm-up writer, which has its
        # own tags and tables; then a read-back
        warm = gen.WARM_CONN
        reqs = [self.mix.write(warm, i, kind) for i, kind in enumerate(
            ("ddl_csv", "raw_csv", "raw_ndjson", "lp", "lake_post"))]
        for i, req in enumerate(reqs):
            self._send(port, req, f"warm-{i}", run, False)
        self._send(port, self.mix.readback(warm, reqs[0]["expect"][1]),
                   "warm-readback", run, False)

    def run_pass(self, port, p, run):
        """One gateway cycle: PASS_WRITES writes, and a read-back of the
        last DDL batch after every READBACK_EVERY-th write."""
        last_ddl = None
        for i in range(p * gen.PASS_WRITES, (p + 1) * gen.PASS_WRITES):
            req = self.mix.write(gen.GATEWAY, i)
            status = self._send(port, req, f"p{p}-w{i}", run, True)
            if req["kind"] == "ddl_csv" and status == 200:
                last_ddl = req["expect"][1]
            if (i + 1) % gen.READBACK_EVERY == 0 and last_ddl is not None:
                self._send(port, self.mix.readback(gen.GATEWAY, last_ddl),
                           f"p{p}-r{i}", run, True)

    def verify(self, port, run):
        """Every acknowledged row readable from its target: the DDL table
        through /db/query, the parquet directories through a Spark read
        (parquet.`dir`) on the same server, outside the timed region."""
        ddl = {t: rows for t, rows in self.acked.items()
               if t.startswith(gen.DDL_PREFIX + "_")}
        parquet = [r for t, rows in self.acked.items() if t not in ddl
                   for r in rows]

        def union(srcs):
            return " union all ".join(
                f"select name, time, value from {s}" for s in srcs)
        for what, q, rows in (
                ("ddl", union(sorted(ddl)),
                 [r for rows in ddl.values() for r in rows]),
                ("parquet", union(
                    f"parquet.`{os.path.join(self.fs_root, t)}`"
                    for t in sorted(self.acked) if t not in ddl), parquet)):
            req = gen._req("verify", "read", "GET", gen._q(
                "/db/query", q=q, format="json"), None, None)
            status, body, _ = call(port, req, f"verify-{what}")
            why = f"HTTP {status}: {body[:200]!r}"
            if status == 200:
                why = oracle.multiset_diff(json.loads(body)["data"]["rows"],
                                           rows)
            run.outcome(not why, f"verify {what}: {why}")
        files = nbytes = 0
        for dp, _dn, fns in os.walk(self.fs_root):
            for fn in fns:
                if fn.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dp, fn))
        run.extra["io.files_per_write"] = files / max(self.writes_acked, 1)
        run.extra["io.bytes_per_row"] = nbytes / max(len(parquet), 1)


class TqlBatch(ServerWorkload):
    """One connection running the fixed heavy-script list."""

    name = "tql_batch"
    N_TAGS, ROWS_PER_TAG = 16, 10000

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, scratch):
        self.sf_dir = os.path.join(scratch, "sf")
        ev = gen.make_events(self.seed, self.N_TAGS, self.ROWS_PER_TAG)
        gen.write_sf_dir(self.sf_dir, self.seed, ev)
        self.scripts = gen.tql_batch(self.seed, ev)
        self.tags = sorted(ev["name"].unique())

    def warmup(self, port, run):
        for req in self.scripts:
            self._send(port, req, f"warm-{req['kind']}", run, False)

    def run_pass(self, port, p, run):
        for req in self.scripts:
            self._send(port, req, f"p{p}-{req['kind']}", run, True)


SERVER_WORKLOADS = {w.name: w for w in (ServeRead, ServeIngest, TqlBatch)}
