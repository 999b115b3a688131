"""Operational entry point — the analog of the reference's
ApplicationMain/WebServerMain: load an inode source, stand up the HTTP
analytics surface, optionally run the suggestions sweep, or execute one
query from the command line.

    python -m nnanalytics_spark serve --source /data/inodes.parquet \
        [--format parquet|oiv|oiv-xml|fsimage] [--conf app.properties]
    python -m nnanalytics_spark sweep --source ... --out /data/sweeps
    python -m nnanalytics_spark query --source ... \
        "/histogram?set=files&type=user&sum=count"

How the namespace is held depends on its bytes on disk. The limit is
``ONE_PARTITION_MAX_BYTES`` (8 MiB), or one file split
(``spark.sql.files.maxPartitionBytes``) if that is smaller:

- a source within the limit, in any format, is read once and held
  ``MEMORY_AND_DISK`` as ONE partition. A request then runs one task
  with no shuffle: the copy reports SinglePartition, so an aggregate
  plans with no Exchange. On the 101,111-inode parquet fixture (3.1 MB)
  a served request went from about 7 tasks in 2.3 stages to one task.
- a bigger source keeps its split: ``fsimage``, ``oiv`` and ``oiv-xml``
  are decoded once and held at the reader's partitions; ``parquet``
  (the stored layout, ``sources.layout``) is scanned on every request,
  and its ``type`` partitions prune ``set=files|dirs``.

The held copy lives in Spark storage memory, compressed by column: the
6,051-inode fixture image takes 174 KB (about 29 bytes per inode; the
fixture's names repeat, so a real image may compress less). Past the
storage fraction it spills to local disk. Loading pays for it: the
one-shot ``query`` command makes one extra pass over a small table
before it answers.

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


#: Largest source held as one partition. On a 4-core host one client's
#: /filter and /histogram over one cached partition beat the 4-split
#: parquet scan up to about 10 MB and lost from about 16 MB on (the
#: histogram first); 8 MiB keeps below that break-even.
ONE_PARTITION_MAX_BYTES = 8 << 20


def _source_bytes(spark, source: str) -> int:
    """Bytes on disk under ``source`` (a file or a directory), from one
    Hadoop ``getContentSummary`` call."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(source)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.getContentSummary(path).getLength()


def _load_inodes(spark, source: str, fmt: str):
    """The one load path of serve, sweep and query (see the module
    docstring). A source within ``ONE_PARTITION_MAX_BYTES`` and one file
    split is held ``MEMORY_AND_DISK`` as one partition, whatever its
    format. It is read at the reader's own split, so the decoders keep
    their parallelism, and the held copy is then coalesced: it reports
    SinglePartition, so aggregates plan with no Exchange and a request
    runs one task. A bigger source keeps its split: a decoded format is
    held at the reader's partitions, and parquet stays a lazy scan whose
    ``type`` partitions prune ``set=files|dirs``. persist, unlike
    localCheckpoint, keeps lineage. One line on stderr names the path
    taken."""
    from pyspark import StorageLevel

    from nnanalytics_spark.sources import fsimage, loader

    readers = {
        "parquet": lambda s, path: s.read.parquet(path),
        "oiv": loader.read_fsimage_csv,
        "oiv-xml": loader.read_fsimage_xml,
        "fsimage": fsimage.read_fsimage_binary,
    }
    if fmt not in readers:
        raise SystemExit(f"unknown --format {fmt!r}")
    size = _source_bytes(spark, source)
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    limit = min(ONE_PARTITION_MAX_BYTES, split)
    small = size <= limit
    inodes = readers[fmt](spark, source)
    if small or fmt != "parquet":
        inodes = inodes.persist(StorageLevel.MEMORY_AND_DISK)
        inodes.count()
    if small:
        wide = inodes
        inodes = wide.coalesce(1).persist(StorageLevel.MEMORY_AND_DISK)
        inodes.count()
        wide.unpersist()
    held = "cached" if inodes.is_cached else "scanned"
    print(
        f"nnanalytics_spark: loaded {fmt} {source}: {size} bytes "
        f"({'<=' if small else '>'} limit {limit}), {held}, "
        f"{inodes.rdd.getNumPartitions()} partition(s)",
        file=sys.stderr,
        flush=True,
    )
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
