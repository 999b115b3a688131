"""What one REST request costs beyond its own answer.

Driver side, in py4j round trips: every Column, DataFrame and functions
call is one or more calls into the JVM; a request that rebuilds
request-invariant plan pieces, or pays PySpark's call-site capture on
each call, costs hundreds to thousands of them before Spark runs
anything. The ceilings sit at about 1.5x the counts of a warm engine
(plan pieces built by a first request).

Spark side, in jobs: each job pays scheduling, task launch and, on a
one-partition held table, a full pass over it, so a request class runs
at most one."""

from __future__ import annotations

import threading
from urllib.parse import quote

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
# writing: 31 30 37 26 125 62 26 31 29 23 12
CASES = [
    ("filter_sum", _url("/filter?set=files&filters=user:eq:hdfs,fileSize:gt:10&sum=count"), 56),
    ("filter_find", _url("/filter?set=files&filters=user:eq:hdfs&find=max:fileSize"), 54),
    ("histogram_user_top", _url("/histogram?set=files&type=user&sum=count&top=5"), 60),
    ("histogram_fileSize", _url("/histogram?set=files&type=fileSize&sum=count"), 39),
    ("histogram_modTime", _url("/histogram?set=files&type=modTime&timeRange=monthly&sum=count"), 183),
    ("histogram_parentDir",
     _url("/histogram?set=files&type=parentDir&parentDirDepth=2&sum=count&top=10"), 93),
    ("histogram2", _url("/histogram2?set=files&type=user,group&sum=count"), 48),
    ("histogram3", _url("/histogram3?set=files&type=user&sum=count,fileSize"), 56),
    ("divide", _url("/divide?set1=files&filters1=user:eq:hdfs&sum1=fileSize&set2=files&sum2=fileSize"), 44),
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


# the perfbench rest_point request classes, over the fixture namespace
def _point_urls(pdf):
    user = "hdfs"
    sql = lambda stmt: "/sql?sqlStatement=" + quote(stmt)  # noqa: E731
    return {
        "filter_sum": f"/filter?set=files&filters=user:eq:{user},fileSize:gt:1024&sum=count",
        "filter_find": f"/filter?set=files&filters=user:eq:{user}&find=max:fileSize",
        "histogram_user": "/histogram?set=files&type=user&sum=count&top=5",
        "histogram_fileType": "/histogram?set=files&type=fileType&sum=count",
        "histogram_fileSize": "/histogram?set=files&type=fileSize&sum=count",
        "histogram_modTime": "/histogram?set=files&type=modTime&timeRange=monthly&sum=count",
        "histogram_parentDir": "/histogram?set=files&type=parentDir&parentDirDepth=2&sum=count&top=10",
        "histogram2": "/histogram2?set=files&type=user,group&sum=count",
        "histogram3": "/histogram3?set=files&type=user&sum=count,fileSize",
        "divide": f"/divide?set1=files&filters1=user:eq:{user}&sum1=fileSize&set2=files&sum2=fileSize",
        "sql_count": sql(f"SELECT COUNT(*) FROM files WHERE fileSize > 1024 AND user = '{user}'"),
        "sql_group": sql("SELECT user, COUNT(*) FROM files GROUP BY user"),
        "dump": "/dump?path=" + quote(pdf[pdf.type == "file"].path.iloc[5]),
        "content_summary": "/contentSummary?path=/dir0",
        "fileAge": "/fileAge",
        "top": "/top?metric=numFiles&limit=5",
        "info": "/info",
    }


#: jobs per request class on a split parquet scan, before the zero-fill,
#: /divide, sweep-report and /info rewrites; a class may not run more
SPLIT_SCAN_JOBS = {
    "filter_sum": 2, "filter_find": 1, "histogram_user": 2, "histogram_fileType": 2,
    "histogram_fileSize": 2, "histogram_modTime": 5, "histogram_parentDir": 2,
    "histogram2": 2, "histogram3": 2, "divide": 4, "sql_count": 2, "sql_group": 2,
    "dump": 1, "content_summary": 2, "fileAge": 2, "top": 2, "info": 2,
}


def _jobs_per_request(spark, source, sweep_dir, urls) -> dict:
    """Jobs each warm request runs, counted through its job group."""
    from nnanalytics_spark import __main__ as cli
    from nnanalytics_spark.web.server import AnalyticsWebServer

    inodes = cli._load_inodes(spark, source, "parquet")
    srv = AnalyticsWebServer(INodeEngine(inodes), now_ms=NOW, suggestions_dir=sweep_dir)
    sc = spark.sparkContext
    jobs = {}
    try:
        for name, url in urls.items():
            path, _, query = url.partition("?")
            assert srv.handle("GET", path, query, "", "tests")[0] == 200, name
            group = f"request-cost-{name}-{id(srv)}"
            sc.setJobGroup(group, name)
            try:
                assert srv.handle("GET", path, query, "", "tests")[0] == 200, name
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        inodes.unpersist()
    return jobs


def test_one_job_per_request(spark, inodes_pdf, tmp_path_factory):
    from nnanalytics_spark.inode import suggestions
    from nnanalytics_spark.sources import layout

    root = tmp_path_factory.mktemp("request_jobs")
    source, sweep_dir = str(root / "layout"), str(root / "sweep")
    table = spark.createDataFrame(inodes_pdf, schema=fixture.SCHEMA)
    layout.write_inode_table(table, source, 2)
    suggestions.run_sweep(spark.read.parquet(source), NOW, output_dir=sweep_dir)
    urls = _point_urls(inodes_pdf)

    held = _jobs_per_request(spark, source, sweep_dir, urls)
    # a warm /info answers from the engine's per-table counts
    ceiling = {name: 0 if name == "info" else 1 for name in urls}
    assert {k: v for k, v in held.items() if v > ceiling[k]} == {}, held

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "256b")  # a split scan, as a source past the one-partition limit
    try:
        split = _jobs_per_request(spark, source, sweep_dir, urls)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert {k: v for k, v in split.items() if v > SPLIT_SCAN_JOBS[k]} == {}, split
