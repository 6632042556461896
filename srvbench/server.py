"""The engine's HTTP server as a separate process, and a plain HTTP
client for it.  Server workloads launch a fresh server per run:

    python3 -m neo_server_spark serve --port 0 --sf-dir D --fs-root F

or, for the traced run, the same command through srvbench/launcher.py.
"""

from __future__ import annotations

import http.client
import os
import signal
import subprocess
import sys
import time

from common import HERE, ROOT, RssSampler, child_env, now
from spans import OP_HEADER


class ServerError(RuntimeError):
    pass


class ServerProc:
    """One engine server process (its own session / process group)."""

    def __init__(self, scratch: str, sf_dir: str, fs_root: str,
                 traced: bool):
        self.spans_path = os.path.join(scratch, "spans.json")
        self.eventlog = os.path.join(scratch, "eventlog")
        serve = ["serve", "--port", "0", "--sf-dir", sf_dir,
                 "--fs-root", fs_root]
        if traced:
            cmd = [sys.executable, os.path.join(HERE, "launcher.py"),
                   "--spans", self.spans_path, "--eventlog", self.eventlog,
                   *serve]
        else:
            cmd = [sys.executable, "-m", "neo_server_spark", *serve]
        self.log_path = os.path.join(scratch, "server.log")
        self._log = open(self.log_path, "w")
        self.t0 = now()
        self.p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=self._log, text=True,
                                  start_new_session=True,
                                  env=child_env(scratch))
        self.rss = RssSampler(self.p.pid)

    def wait_listening(self) -> int:
        for line in self.p.stdout:
            if "listening on http://" in line:
                return int(line.strip().rsplit(":", 1)[1])
        raise ServerError(f"server exited ({self.p.wait()}): "
                          f"{self.log_tail()}")

    def log_tail(self, n: int = 1500) -> str:
        self._log.flush()
        with open(self.log_path) as f:
            return f.read()[-n:]

    def stop(self) -> float:
        """SIGINT the server (a clean Spark stop flushes the traced run's
        spans and event log), then make sure the whole process group —
        JVM included — is gone.  Returns the peak RSS in MB."""
        try:
            if self.p.poll() is None:
                self.p.send_signal(signal.SIGINT)
                try:
                    self.p.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    pass
            reap_group(self.p)
        finally:
            self._log.close()
            if self.p.stdout:
                self.p.stdout.close()
        return self.rss.stop()


def reap_group(p: subprocess.Popen, grace_s: float = 20.0) -> None:
    """Wait for ``p`` and every process of its group (the JVM exits once
    its Python driver is gone); SIGKILL what is left after ``grace_s``."""
    deadline = time.time() + grace_s
    while _group_alive(p.pid) and time.time() < deadline:
        time.sleep(0.1)
    if _group_alive(p.pid):
        os.killpg(p.pid, signal.SIGKILL)
        while _group_alive(p.pid):
            time.sleep(0.1)
    p.wait()


def _group_alive(pgid: int) -> bool:
    """Any live (non-zombie) process left in process group ``pgid``."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(rest[2]) == pgid and rest[0] != "Z":
            return True
    return False


def call(port: int, req: dict, op: str, timeout: float = 170.0):
    """Send one request; returns (status, body, ms).  The op id rides in
    a header so a traced server can name spans and job groups after
    it."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    headers = {"Content-Type": req["ctype"], OP_HEADER: op}
    try:
        t = now()
        conn.request(req["method"], req["path"], body=req["body"],
                     headers=headers)
        r = conn.getresponse()
        body = r.read()
        return r.status, body, (now() - t) * 1000.0
    finally:
        conn.close()
