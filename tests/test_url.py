"""URL-contract goldens — query strings shaped like the reference's own
test suite (TestNNAnalyticsBase.java:434-763, TestWithMiniClusterBase
.java:208-265) parsed into Query and executed through run_url, asserted
equal to the direct-engine call they should compile to."""

from __future__ import annotations

import pytest

from nnanalytics_spark.core import url as u
from nnanalytics_spark.core.ir import Query
from nnanalytics_spark.inode import fixture

NOW = fixture.NOW_MS
HOST = "http://localhost:4567"


def rows(df):
    return sorted(tuple(r) for r in df.collect())


# --------------------------------------------------------------- parsing


def test_parse_filter_sum_url():
    ep, q = u.parse_url(
        f"{HOST}/filter?set=files&filters=fileSize:lte:1048576,fileSize:gt:1024&sum=count",
        now_ms=NOW,
    )
    assert ep == "filter"
    assert q.set == "files"
    assert q.filters == [("fileSize", "lte", "1048576"), ("fileSize", "gt", "1024")]
    assert q.sums == ["count"]


def test_parse_histogram_defaults():
    """sum defaults to count, timeRange to weekly
    (NamenodeAnalyticsMethods.java:1563,1572-1573)."""
    ep, q = u.parse_url(f"{HOST}/histogram?set=all&type=accessTime", now_ms=NOW)
    assert ep == "histogram"
    assert q.type == "accessTime" and q.sums == ["count"] and q.time_range == "weekly"


def test_parse_histogram_full_surface():
    ep, q = u.parse_url(
        f"{HOST}/histogram?set=files&filters=isUnderNsQuota:eq:true&parentDirDepth=3"
        "&sum=count&type=parentDir&histogramOutput=csv",
        now_ms=NOW,
    )
    assert q.filters == [("isUnderNsQuota", "eq", "true")]
    assert q.parent_dir_depth == 3 and q.type == "parentDir"


def test_parse_histogram2_type_split():
    ep, q = u.parse_url(
        f"{HOST}/histogram2?set=files&type=user,group&sum=count", now_ms=NOW
    )
    assert ep == "histogram2" and (q.type, q.type2) == ("user", "group")


def test_parse_transforms():
    _, q = u.parse_url(
        f"{HOST}/histogram?set=files&type=user&sum=diskspaceConsumed"
        "&transformConditions=fileReplica:eq:1"
        "&transformFields=fileReplica&transformOutputs=2",
        now_ms=NOW,
    )
    assert q.transforms == [([("fileReplica", "eq", "1")], "fileReplica", 2)]


def test_parse_rejects():
    with pytest.raises(ValueError):
        u.parse_url(f"{HOST}/histogram?set=files&type=user&top=5&bottom=5")
    with pytest.raises(ValueError):
        u.parse_url(
            f"{HOST}/histogram?set=files&type=user&sortAscending=true&sortDescending=true"
        )
    with pytest.raises(ValueError):
        u.parse_url(f"{HOST}/histogram?set=files&type=user&nosuchparam=1")
    with pytest.raises(ValueError):
        u.parse_url(f"{HOST}/nosuchendpoint?set=files")


# ------------------------------------------------------------- execution


def test_url_filter_sum_matches_engine(engine):
    got = u.run_url(
        engine, f"{HOST}/filter?set=files&filters=fileSize:gt:1024&sum=count", now_ms=NOW
    )
    want = engine.filter_sum(
        Query(set="files", filters=[("fileSize", "gt", "1024")], sums=["count"], now_ms=NOW)
    )
    assert rows(got) == rows(want)


def test_url_filter_find_extremum(engine):
    got = u.run_url(engine, f"{HOST}/filter?set=files&find=max:fileSize", now_ms=NOW)
    want = engine.find_extremum(
        Query(set="files", finds=["max:fileSize"], now_ms=NOW)
    )
    assert rows(got) == rows(want)


def test_url_filter_dump_paths(engine):
    got = u.run_url(
        engine, f"{HOST}/filter?set=dirs&filters=path:contains:dir1", now_ms=NOW
    )
    want = engine.dump_paths(
        Query(set="dirs", filters=[("path", "contains", "dir1")], now_ms=NOW)
    )
    assert rows(got) == rows(want)


def test_url_histogram_top_sort(engine):
    got = u.run_url(
        engine,
        f"{HOST}/histogram?set=files&type=user&sum=count&top=2",
        now_ms=NOW,
    )
    want = engine.histogram(
        Query(set="files", type="user", sums=["count"], top=2, now_ms=NOW)
    )
    assert rows(got) == rows(want)
    sorted_hist = u.run_url(
        engine,
        f"{HOST}/histogram?set=files&type=user&sum=count&sortDescending=true",
        now_ms=NOW,
    ).collect()
    vals = [r[1] for r in sorted_hist]
    assert vals == sorted(vals, reverse=True)


def test_url_histogram_find_and_conditions(engine):
    got = u.run_url(
        engine,
        f"{HOST}/histogram?set=files&type=user&find=max:fileSize"
        "&histogramConditions=gte:1&histogramOutput=csv",
        now_ms=NOW,
    )
    want = engine.histogram(
        Query(set="files", type="user", finds=["max:fileSize"], having="gte:1", now_ms=NOW)
    )
    assert rows(got) == rows(want)


def test_url_histogram2(engine):
    got = u.run_url(
        engine, f"{HOST}/histogram2?set=files&type=user,group&sum=count", now_ms=NOW
    )
    want = engine.histogram2(
        Query(set="files", type="user", type2="group", sums=["count"], now_ms=NOW)
    )
    assert rows(got) == rows(want)


def test_url_divide(engine):
    got = u.run_url(
        engine,
        f"{HOST}/divide?set1=files&filters1=fileSize:gt:1024&sum1=count"
        "&set2=files&sum2=count",
        now_ms=NOW,
    ).collect()
    q1 = Query(set="files", filters=[("fileSize", "gt", "1024")], sums=["count"], now_ms=NOW)
    q2 = Query(set="files", sums=["count"], now_ms=NOW)
    want = engine.divide(q1, q2).collect()
    assert got[0]["ratio"] == want[0]["ratio"]


def test_url_transform_histogram(engine):
    """What-if replica rewrite through the URL surface equals the direct
    transform query (Transforms.java:58-230 contract)."""
    got = u.run_url(
        engine,
        f"{HOST}/histogram?set=files&type=user&sum=diskspaceConsumed"
        "&transformConditions=fileReplica:eq:1"
        "&transformFields=fileReplica&transformOutputs=3",
        now_ms=NOW,
    )
    want = engine.histogram(
        Query(
            set="files", type="user", sums=["diskspaceConsumed"],
            transforms=[([("fileReplica", "eq", "1")], "fileReplica", 3)],
            now_ms=NOW,
        )
    )
    assert rows(got) == rows(want)
