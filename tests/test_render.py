"""Rendering, /dump, rankings, cached-query tests."""

from __future__ import annotations

import json

import pytest

from nnanalytics_spark.core.ir import Query
from nnanalytics_spark.inode import fixture, render, suggestions

NOW = fixture.NOW_MS


@pytest.fixture(scope="module")
def hist(engine):
    return engine.histogram(
        Query(set="files", type="modTime", sums=["count"], time_range="yearly", now_ms=NOW)
    )


def test_json_render_preserves_bin_order(hist):
    payload = json.loads(render.to_json(hist))
    assert list(payload) == ["1 Years", "2 Years", "3 Years", "4 Years", "4 Years+"]


def test_csv_render(hist):
    lines = render.to_csv(hist).strip().splitlines()
    assert len(lines) == 5
    assert lines[0].startswith("1 Years,")


def test_chartjs_render(hist):
    payload = json.loads(render.to_chart_js_json(hist, title="age"))
    assert payload["labels"][0] == "1 Years"
    assert payload["datasets"][0]["label"] == "count"
    assert len(payload["datasets"][0]["data"]) == 5


def test_multiagg_json_render(engine):
    h3 = engine.histogram(
        Query(set="files", type="user", sums=["count", "fileSize"], now_ms=NOW)
    )
    payload = json.loads(render.to_json(h3))
    assert all(isinstance(v, list) and len(v) == 2 for v in payload.values())


def test_two_level_json_nested_shape(engine):
    h2 = engine.histogram2(
        Query(set="files", type="user", type2="group", sums=["count"], now_ms=NOW)
    )
    payload = json.loads(render.two_level_to_json(h2))
    assert all(isinstance(v, dict) for v in payload.values())
    total = sum(sum(inner.values()) for inner in payload.values())
    assert total > 0


def test_dump_inode(engine, inodes_pdf):
    f = inodes_pdf[inodes_pdf.type == "file"].iloc[0]
    attrs = engine.dump_inode(f.path)
    assert attrs["path"] == f.path
    assert attrs["fileSize"] == f.fileSize
    assert attrs["numReplicas"] == f.numBlocks * f.fileReplica
    assert attrs["fileType"] is not None
    assert engine.dump_inode("/no/such/path") == {}


def test_issue_ranking(inodes, inodes_pdf):
    per_user = suggestions.per_user_report(inodes, NOW)
    top = suggestions.issue_ranking(per_user, "emptyFiles", k=2, top=True).collect()
    f = inodes_pdf[inodes_pdf.type == "file"]
    expect = (
        f.assign(empty=(f.fileSize == 0))
        .groupby("user")["empty"].sum().sort_values(ascending=False)
    )
    assert top[0]["user"] == expect.index[0]
    with pytest.raises(ValueError):
        suggestions.issue_ranking(per_user, "nope")


def test_cached_query_registry(engine, inodes_pdf):
    """/setCachedQuery registers a Query; /getCachedQuery answers it
    through INodeEngine.run, shaped like the same query on /filter,
    /histogram or /histogram2."""
    from nnanalytics_spark.web.server import AnalyticsWebServer

    srv = AnalyticsWebServer(engine, now_ms=NOW)

    def call(endpoint, query):
        status, _, body = srv.handle("GET", f"/{endpoint}", query, "", "tests")
        assert status == 200, body
        return body

    call("setCachedQuery", "queryName=empties&set=files&filters=fileSize:eq:0&sum=count")
    call("setCachedQuery", "queryName=byUser&set=files&type=user")
    call("setCachedQuery", "queryName=biggest&set=files&find=max:fileSize")
    call("setCachedQuery", "queryName=byUserGroup&set=files&type=user,group")
    f = inodes_pdf[inodes_pdf.type == "file"]
    assert call("getCachedQuery", "queryName=empties") == str(int((f.fileSize == 0).sum()))
    assert len(json.loads(call("getCachedQuery", "queryName=byUser"))) == f.user.nunique()
    # a find with no sum is the extremal row, as on /filter
    biggest = json.loads(call("getCachedQuery", "queryName=biggest"))
    assert list(biggest.values()) == [int(f.fileSize.max())]
    # type=a,b groups on two levels, as on /histogram2
    nested = json.loads(call("getCachedQuery", "queryName=byUserGroup"))
    assert sum(len(inner) for inner in nested.values()) == len(f.groupby(["user", "group"]))
    call("removeCachedQuery", "queryName=empties")
    assert json.loads(call("cachedMaps", "")) == ["biggest", "byUser", "byUserGroup"]