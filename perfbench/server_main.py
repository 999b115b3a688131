"""Server process for the REST workloads.

Stands the server up the way ``python -m nnanalytics_spark serve
--source … --format … --cpus N`` does, through the CLI's own helpers
(``get_spark`` → ``_load_inodes`` → ``INodeEngine`` → ``_build_server``),
with three additions the benchmark needs:

- an ephemeral loopback port, printed on stdout once serving;
- the query clock pinned (``server.now_ms``), so every time-relative
  answer has a fixed oracle;
- ``--sweep-dir``: run the suggestions sweep once before serving (what
  ``python -m nnanalytics_spark sweep --out`` does) and serve
  ``/fileAge`` and ``/top`` from it, as ``serve --out`` does.

With ``--trace`` the benchmark's span wrappers are installed before the
session starts. Set-up is traced; once serving, a request is traced
when it carries ``X-Perfbench-Trace: 1``. Commands arrive on stdin, one
per line: ``dump <path>``; end of input stops the server.

    python3 perfbench/server_main.py --source DIR --format parquet
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import NOW_MS, pin_environment, stop_spark  # noqa: E402


def install_tracing(tracer, sc_holder: dict) -> dict:
    """Wrap every layer's public entry points. Returns the per-request
    job statistics map the HTTP wrapper fills."""
    from nnanalytics_spark import __main__ as cli
    from nnanalytics_spark import session
    from nnanalytics_spark.core import url as urlmod
    from nnanalytics_spark.inode import render, suggestions
    from nnanalytics_spark.inode.engine import INodeEngine
    from nnanalytics_spark.sql import dialect
    from nnanalytics_spark.web import server as web
    from pyspark.sql.classic.dataframe import DataFrame

    import tracing

    tracer.wrap(session, "get_spark", "session.start")
    tracer.wrap(cli, "_load_inodes", "sources.load")
    tracer.wrap(suggestions, "run_sweep", "inode.suggestions.sweep")
    tracer.wrap(web.AnalyticsWebServer, "handle", "web.handle")
    tracer.wrap(urlmod, "parse_url", "core.url.parse")
    tracer.wrap(dialect, "parse_select", "sql.dialect.parse")
    for shape in ("filter_sum", "dump_paths", "find_extremum", "histogram", "histogram2",
                  "divide", "content_summary", "dump_inode", "info"):
        tracer.wrap(INodeEngine, shape, "inode.engine.build")
    for fmt in ("to_json", "to_csv", "two_level_to_json", "to_chart_js_json"):
        tracer.wrap(render, fmt, "inode.render")
    tracing.install_spark_tracing(tracer, DataFrame)

    jobs: dict = {}
    make_handler = web._make_handler

    def traced_handler(server):
        cls = make_handler(server)
        serve = cls._serve

        def _serve(self, method):
            req = self.headers.get("X-Perfbench-Req")
            sc = sc_holder.get("sc")
            traced = self.headers.get("X-Perfbench-Trace") == "1" and sc is not None
            tracer.set_request(req, on=traced)
            if traced:
                sc.setJobGroup(req, "perfbench request")
            try:
                serve(self, method)
            finally:
                tracer.set_request(None)
                if traced:
                    jobs[req] = tracing.job_stats(sc, req)
                    sc.setLocalProperty("spark.jobGroup.id", None)

        cls._serve = _serve
        return cls

    web._make_handler = traced_handler
    return jobs


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--source", required=True)
    parser.add_argument("--format", default="parquet")
    parser.add_argument("--sweep-dir", default=None)
    parser.add_argument("--trace", action="store_true")
    args = parser.parse_args(argv)
    env = pin_environment()

    tracer = jobs = None
    sc_holder: dict = {}
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.enabled = True
        jobs = install_tracing(tracer, sc_holder)

    from nnanalytics_spark import __main__ as cli
    from nnanalytics_spark import session
    from nnanalytics_spark.inode import suggestions
    from nnanalytics_spark.inode.engine import INodeEngine

    spark = session.get_spark("nnanalytics")
    sc_holder["sc"] = spark.sparkContext
    session_ready = time.time()
    inodes = cli._load_inodes(spark, args.source, args.format)
    engine = INodeEngine(inodes)
    if args.sweep_dir:
        suggestions.run_sweep(inodes, now_ms=NOW_MS, output_dir=args.sweep_dir)
    serve_args = argparse.Namespace(port="0", host="127.0.0.1", out=args.sweep_dir, cpus=env["SPARK_GRAFT_CPUS"])
    server = cli._build_server(engine, {}, serve_args)
    server.now_ms = NOW_MS
    port = server.start()
    if tracer is not None:
        tracer.enabled = False  # from here on, each request says whether it is traced
    print(json.dumps({"port": port, "session_ready": session_ready}), flush=True)

    try:
        for line in sys.stdin:
            cmd = line.strip().split(" ", 1)
            if tracer is not None and cmd[0] == "dump":
                from tracing import storage_mb

                tracer.dump(cmd[1])
                with open(cmd[1] + ".jobs", "w") as fh:
                    json.dump({"jobs": jobs, "storage_mb": storage_mb(spark.sparkContext)}, fh)
                print("dumped", flush=True)
    finally:
        server.stop()
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
