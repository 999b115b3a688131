"""Driver-side cost of building one REST request, counted in py4j round
trips. Every Column, DataFrame and functions call is one or more calls
into the JVM; a request that rebuilds request-invariant plan pieces, or
pays PySpark's call-site capture on each call, costs hundreds to
thousands of them before Spark runs anything. The ceilings sit at about
1.5x the counts of a warm engine (plan pieces built by a first request)."""

from __future__ import annotations

import threading

import pytest
from py4j.clientserver import ClientServerConnection
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME
from pyspark.errors import utils as errutils
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from nnanalytics_spark.core import url as urlmod
from nnanalytics_spark.inode import fixture
from nnanalytics_spark.inode.engine import INodeEngine

NOW = fixture.NOW_MS
# py4j releases a JVM object when its Python proxy is garbage-collected;
# those deletes ride the same connection but are no part of the build
_GC_DELETE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


def _url(url):
    return lambda eng, path: urlmod.run_url(eng, url, now_ms=NOW)


# (request class, build one request, ceiling); counts at the time of
# writing: 37 36 40 85 122 83 32 37 86 23 12
CASES = [
    ("filter_sum", _url("/filter?set=files&filters=user:eq:hdfs,fileSize:gt:10&sum=count"), 56),
    ("filter_find", _url("/filter?set=files&filters=user:eq:hdfs&find=max:fileSize"), 54),
    ("histogram_user_top", _url("/histogram?set=files&type=user&sum=count&top=5"), 60),
    ("histogram_fileSize", _url("/histogram?set=files&type=fileSize&sum=count"), 128),
    ("histogram_modTime", _url("/histogram?set=files&type=modTime&timeRange=monthly&sum=count"), 183),
    ("histogram_parentDir",
     _url("/histogram?set=files&type=parentDir&parentDirDepth=2&sum=count&top=10"), 125),
    ("histogram2", _url("/histogram2?set=files&type=user,group&sum=count"), 48),
    ("histogram3", _url("/histogram3?set=files&type=user&sum=count,fileSize"), 56),
    ("divide", _url("/divide?set1=files&filters1=user:eq:hdfs&sum1=fileSize&set2=files&sum2=fileSize"), 129),
    ("content_summary", lambda eng, path: eng.content_summary("/dir0"), 35),
    # /dump builds AND collects: its count includes the collect
    ("dump", lambda eng, path: eng.dump_inode(path), 18),
]


@pytest.fixture()
def round_trips(spark, monkeypatch):
    """Counter of this thread's py4j commands, GC deletes excluded."""
    monkeypatch.setattr(errutils, "_enable_debugging_cache", None)  # read this session's conf
    count = [0]
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(_GC_DELETE):
            count[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return count


@pytest.mark.parametrize("name,build,ceiling", CASES, ids=[c[0] for c in CASES])
def test_request_build_round_trips(inodes, inodes_pdf, round_trips, name, build, ceiling):
    eng = INodeEngine(inodes)
    path = inodes_pdf[inodes_pdf.type == "file"].path.iloc[5]
    build(eng, path)  # the first request builds the table's plan pieces
    round_trips[0] = 0
    build(eng, path)
    assert round_trips[0] <= ceiling, f"{name}: {round_trips[0]} py4j round trips"


def test_dump_path_predicate_reaches_cached_scan(spark, inodes_pdf, monkeypatch):
    """The /dump projection is built once and filtered per request; the
    path predicate must still land below the Project, in the scan of the
    cached table."""
    # a table of its own: the shared fixture's cache entry can be dropped
    # by other tests (/drop uncaches a view over it), and unpersisting a
    # table equal to it would drop that entry too
    pdf = inodes_pdf.iloc[:40]
    inodes = spark.createDataFrame(pdf, schema=fixture.SCHEMA).persist()
    collected = []
    collect = DataFrame.collect
    monkeypatch.setattr(DataFrame, "collect", lambda df: collected.append(df) or collect(df))
    try:
        path = pdf[pdf.type == "file"].path.iloc[5]
        eng = INodeEngine(inodes)
        assert eng.dump_inode(path)["path"] == path
        assert eng.dump_inode("/no/such/path") == {}
        qe = collected[0]._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString().splitlines()
        assert optimized[0].startswith("Project"), optimized
        assert any(ln.lstrip("+- ").startswith("Filter") and path in ln for ln in optimized[1:])
        scan = [ln for ln in qe.executedPlan().toString().splitlines() if "InMemoryTableScan" in ln]
        assert scan and path in scan[0], scan
        assert collected[0].filter(F.col("path") != path).count() == 0
    finally:
        inodes.unpersist()
