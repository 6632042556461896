"""Traced server launcher: the same process shape as
``python -m neo_server_spark serve`` (one Python process plus its JVM),
with span wrappers installed, a Spark job group per request and the
Spark event log on.

    python3 srvbench/launcher.py --spans OUT.json --eventlog DIR \\
        serve --port 0 --sf-dir D --fs-root F

Spans are written to OUT.json when the server stops (SIGINT).
"""

from __future__ import annotations

import argparse
import os
import sys

from common import ROOT
import spans as tr


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spans", required=True)
    ap.add_argument("--eventlog", required=True)
    args, serve_argv = ap.parse_known_args()
    sys.path.insert(0, ROOT)
    os.makedirs(args.eventlog, exist_ok=True)
    from neo_server_spark.session import get_spark
    # the serve entry point's get_spark() returns this session
    spark = get_spark(app_name="neo-server-spark-cli", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": args.eventlog,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false"})
    tracer = tr.Tracer()
    tr.install(tracer)
    from neo_server_spark import __main__ as cli
    try:
        return cli.main(serve_argv)
    finally:
        tracer.dump(args.spans)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
