"""Operational entry point — the analog of the reference's
ApplicationMain/WebServerMain: load an inode source, stand up the HTTP
analytics surface, optionally run the suggestions sweep, or execute one
query from the command line.

    python -m nnanalytics_spark serve --source /data/inodes.parquet \
        [--format parquet|oiv|oiv-xml|fsimage] [--conf app.properties]
    python -m nnanalytics_spark sweep --source ... --out /data/sweeps
    python -m nnanalytics_spark query --source ... \
        "/histogram?set=files&type=user&sum=count"

``--format parquet`` (the stored layout, ``sources.layout``) is scanned
on every request, with partition pruning. The decoded formats
(``fsimage``, ``oiv``, ``oiv-xml``) are decoded once at load and held
``MEMORY_AND_DISK`` in Spark's columnar cache, so no request re-runs the
decoder. That copy lives in Spark storage memory, compressed by
column: the 6,051-inode fixture image takes 174 KB (about 29 bytes per
inode; the fixture's names repeat, so a real image may compress less).
Past the storage fraction it spills to local disk.

``--conf`` accepts the reference's .properties names where they map to
implemented features (ApplicationConfiguration.java:90-280):
``nna.port``, ``nna.base.dir`` (sweep/history archive),
``authorization.enable``, ``nna.localonly.users`` ("user:pass,..." —
enables the auth stack), ``ldap.url`` + ``ldap.base.dn.N`` (DN-template
binds). Unknown keys are ignored, same as the reference tolerates
extras. Command-line flags override file properties.
"""

from __future__ import annotations

import argparse
import sys
import time


def _read_properties(path: str | None) -> dict[str, str]:
    props: dict[str, str] = {}
    if not path:
        return props
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith(("#", "!")):
                continue
            key, _, value = line.partition("=")
            props[key.strip()] = value.strip()
    return props


def _load_inodes(spark, source: str, fmt: str):
    """The one load path of serve, sweep and query (see the module
    docstring). parquet stays a lazy scan so its ``type`` partitions
    still prune ``set=files|dirs``; a cached copy would lose that.
    persist, unlike localCheckpoint, keeps the decoded table's lineage."""
    from pyspark import StorageLevel

    from nnanalytics_spark.sources import fsimage, loader

    if fmt == "parquet":
        return spark.read.parquet(source)
    readers = {
        "oiv": loader.read_fsimage_csv,
        "oiv-xml": loader.read_fsimage_xml,
        "fsimage": fsimage.read_fsimage_binary,
    }
    if fmt not in readers:
        raise SystemExit(f"unknown --format {fmt!r}")
    inodes = readers[fmt](spark, source).persist(StorageLevel.MEMORY_AND_DISK)
    inodes.count()
    return inodes


def _build_server(engine, props: dict[str, str], args):
    from nnanalytics_spark.core.authn import LocalPasswordSet, SecurityManager
    from nnanalytics_spark.core.authz import Authorizer
    from nnanalytics_spark.web.server import AnalyticsWebServer

    security = None
    local_users = props.get("nna.localonly.users", "")
    if local_users:
        plain = {}
        for entry in local_users.split(","):
            user, _, password = entry.partition(":")
            plain[user] = password
        security = SecurityManager(local=LocalPasswordSet.from_plain(plain))
    authorizer = None
    if props.get("authorization.enable", "false").lower() == "true":
        authorizer = Authorizer(enabled=True)
    port = int(args.port or props.get("nna.port", "8080"))
    return AnalyticsWebServer(
        engine,
        authorizer=authorizer,
        security=security,
        suggestions_dir=args.out or props.get("nna.base.dir"),
        host=args.host,
        port=port,
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="nnanalytics_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    for name in ("serve", "sweep", "query"):
        p = sub.add_parser(name)
        p.add_argument("--source", required=True, help="inode table / image path")
        p.add_argument(
            "--format",
            default="parquet",
            choices=("parquet", "oiv", "oiv-xml", "fsimage"),
        )
        p.add_argument("--conf", help=".properties file (reference names)")
        p.add_argument(
            "--cpus",
            default=None,
            help="local worker threads (session master becomes local[N])",
        )
        if name == "serve":
            p.add_argument("--host", default="0.0.0.0")
            p.add_argument("--port", default=None)
            p.add_argument("--out", default=None, help="sweep/history dir")
        if name == "sweep":
            p.add_argument("--out", required=True, help="report output dir")
        if name == "query":
            p.add_argument("url", help="reference-style query URL")
    args = parser.parse_args(argv)

    from nnanalytics_spark.session import get_spark

    if args.cpus:
        import os

        os.environ["SPARK_GRAFT_CPUS"] = args.cpus
    spark = get_spark("nnanalytics")
    props = _read_properties(args.conf)
    inodes = _load_inodes(spark, args.source, args.format)

    from nnanalytics_spark.inode.engine import INodeEngine

    engine = INodeEngine(inodes)

    if args.cmd == "serve":
        server = _build_server(engine, props, args)
        port = server.start()
        print(f"nnanalytics_spark serving on :{port}", flush=True)
        try:
            while True:
                time.sleep(3600)
        except KeyboardInterrupt:
            server.stop()
        return 0

    if args.cmd == "sweep":
        from nnanalytics_spark.inode.suggestions import run_sweep

        now_ms = int(time.time() * 1000)
        reports = run_sweep(inodes, now_ms=now_ms, output_dir=args.out)
        for name in sorted(reports):
            print(f"sweep wrote {name}", flush=True)
        return 0

    # one-shot query: URL in, CSV out
    from nnanalytics_spark.core import url as urlmod
    from nnanalytics_spark.inode import render

    df = urlmod.run_url(engine, args.url, now_ms=int(time.time() * 1000))
    sys.stdout.write(render.to_csv(df, header=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
