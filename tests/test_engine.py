"""Histogram / aggregate / post-op semantics vs pandas expectations."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nnanalytics_spark.core.ir import Query
from nnanalytics_spark.inode import fixture

NOW = fixture.NOW_MS


def files(pdf):
    return pdf[pdf.type == "file"]


def test_histogram_user_count(engine, inodes_pdf):
    got = {r[0]: r[1] for r in engine.histogram(
        Query(set="files", type="user", sums=["count"], now_ms=NOW)
    ).collect()}
    expect = files(inodes_pdf).groupby("user").size().to_dict()
    assert got == expect


def test_histogram_multi_sum_shared_scan(engine, inodes_pdf):
    q = Query(set="files", type="user", sums=["count", "fileSize", "diskspaceConsumed"], now_ms=NOW)
    got = {r[0]: (r[1], r[2], r[3]) for r in engine.histogram(q).collect()}
    f = files(inodes_pdf).copy()
    f["dsc"] = f.fileSize * f.fileReplica
    for user, grp in f.groupby("user"):
        assert got[user] == (len(grp), grp.fileSize.sum(), grp.dsc.sum())


def test_histogram_find_avg(engine, inodes_pdf):
    q = Query(set="files", type="group", finds=["avg:fileSize"], now_ms=NOW)
    got = {r[0]: r[1] for r in engine.histogram(q).collect()}
    for grp_name, grp in files(inodes_pdf).groupby("group"):
        assert abs(got[grp_name] - grp.fileSize.mean()) < 1e-6


def test_histogram2_two_level(engine, inodes_pdf):
    q = Query(set="files", type="user", type2="group", sums=["count"], now_ms=NOW)
    got = {(r[0], r[1]): r[2] for r in engine.histogram2(q).collect()}
    expect = files(inodes_pdf).groupby(["user", "group"]).size().to_dict()
    assert got == expect


def test_histogram_having_top_sort(engine, inodes_pdf):
    base = files(inodes_pdf).groupby("user").size()
    q = Query(set="files", type="user", sums=["count"], having="gte:10", now_ms=NOW)
    got = {r[0]: r[1] for r in engine.histogram(q).collect()}
    assert got == base[base >= 10].to_dict()

    q_top = Query(set="files", type="user", sums=["count"], top=2, now_ms=NOW)
    rows = engine.histogram(q_top).collect()
    assert len(rows) == 2
    assert rows[0][1] >= rows[1][1]
    assert rows[0][1] == base.max()

    q_sort = Query(set="files", type="user", sums=["count"], sort="asc", now_ms=NOW)
    vals = [r[1] for r in engine.histogram(q_sort).collect()]
    assert vals == sorted(vals)


def test_time_histogram_zero_fill_canonical_order(engine):
    q = Query(set="files", type="modTime", sums=["count"], time_range="yearly", now_ms=NOW)
    rows = engine.histogram(q).collect()
    assert [r[0] for r in rows] == ["1 Years", "2 Years", "3 Years", "4 Years", "4 Years+"]
    assert all(r[1] >= 0 for r in rows)


def test_filesize_space_histogram_labels(engine, inodes_pdf):
    q = Query(set="files", type="fileSize", sums=["count"], now_ms=NOW)
    got = {r[0]: r[1] for r in engine.histogram(q).collect()}
    f = files(inodes_pdf)
    assert got.get("0 B", 0) == int((f.fileSize == 0).sum())
    assert got.get("1 KB", 0) == int(((f.fileSize >= 1) & (f.fileSize <= 1024)).sum())
    assert sum(got.values()) == len(f)


def test_find_extremum_argmax(engine, inodes_pdf):
    q = Query(set="files", finds=["max:fileSize"], now_ms=NOW)
    row = engine.find_extremum(q).collect()[0]
    assert row[1] == files(inodes_pdf).fileSize.max()


def test_dump_paths_sorted_limited(engine, inodes_pdf):
    q = Query(set="files", filters=[("fileSize", "gt", "0")], limit=10, now_ms=NOW)
    rows = [r[0] for r in engine.dump_paths(q).collect()]
    f = files(inodes_pdf)
    expect = sorted(f[f.fileSize > 0].path)[:10]
    assert rows == expect


def test_divide(engine, inodes_pdf):
    q1 = Query(set="files", filters=[("fileSize", "eq", "0")], sums=["count"], now_ms=NOW)
    q2 = Query(set="files", sums=["count"], now_ms=NOW)
    ratio = engine.divide(q1, q2).collect()[0][0]
    f = files(inodes_pdf)
    assert abs(ratio - (f.fileSize == 0).sum() / len(f)) < 1e-9


_DIVIDE_SIDES = {
    "files_count": Query(set="files", sums=["count"], now_ms=NOW),
    "files_size": Query(set="files", sums=["fileSize"], now_ms=NOW),
    "dirs_count": Query(set="dirs", sums=["count"], now_ms=NOW),
    "all_count_deep": Query(set="all", filters=[("depth", "gte", "3")], sums=["count"], now_ms=NOW),
    "empty_count": Query(set="files", filters=[("fileSize", "lt", "0")], sums=["count"], now_ms=NOW),
    "empty_size": Query(set="files", filters=[("fileSize", "lt", "0")], sums=["fileSize"], now_ms=NOW),
    "replica_1": Query(
        set="files", sums=["diskspaceConsumed"], transforms=[([], "fileReplica", 1)], now_ms=NOW
    ),
    "diskspace": Query(set="files", sums=["diskspaceConsumed"], now_ms=NOW),
}


@pytest.mark.parametrize(
    "num,den",
    [
        ("files_size", "files_count"),
        ("dirs_count", "files_count"),
        ("all_count_deep", "dirs_count"),
        ("empty_count", "files_count"),
        ("empty_size", "files_count"),
        ("files_count", "empty_size"),
        ("replica_1", "diskspace"),
    ],
)
def test_divide_one_aggregate_matches_two(engine, num, den):
    """/divide's single conditional aggregate answers what the two
    filtered sums do: mixed sets, per-side transforms, and an empty side
    (a null sum makes the ratio null; an empty count is 0, not null)."""
    q1, q2 = _DIVIDE_SIDES[num], _DIVIDE_SIDES[den]
    a = engine.filter_sum(q1).collect()[0][0]
    b = engine.filter_sum(q2).collect()[0][0]
    got = engine.divide(q1, q2).collect()[0][0]
    if a is None or b is None:
        assert got is None
    else:
        assert got == pytest.approx(a / b, rel=1e-12)
    if num == "empty_count":
        assert got == 0.0


def test_transform_whatif_diskspace(engine, inodes_pdf):
    """Transformed diskspace (all replicas→1) must be <= raw and equal
    sum(fileSize) — the reference's own semantic test shape
    (TestNNAnalyticsBase.java:1334-1349)."""
    raw = engine.filter_sum(
        Query(set="files", sums=["diskspaceConsumed"], now_ms=NOW)
    ).collect()[0][0]
    transformed = engine.filter_sum(
        Query(
            set="files",
            sums=["diskspaceConsumed"],
            transforms=[([("fileReplica", "gte", "1")], "fileReplica", 1)],
            now_ms=NOW,
        )
    ).collect()[0][0]
    f = files(inodes_pdf)
    assert transformed == f.fileSize.sum()
    assert transformed <= raw


def test_content_summary(engine, inodes_pdf):
    out = engine.content_summary("/dir0").collect()[0]
    sub = inodes_pdf[
        (inodes_pdf.path == "/dir0") | inodes_pdf.path.str.startswith("/dir0/")
    ]
    assert out["fileCount"] == int((sub.type == "file").sum())
    assert out["dirCount"] == int((sub.type == "dir").sum())
    assert out["length"] == int(sub[sub.type == "file"].fileSize.sum())


def test_parent_dir_histogram(engine, inodes_pdf):
    q = Query(set="files", type="parentDir", sums=["count"], parent_dir_depth=1, now_ms=NOW)
    got = {r[0]: r[1] for r in engine.histogram(q).collect()}
    f = files(inodes_pdf).copy()
    f["p1"] = "/" + f.path.str.split("/").str[1]
    expect = f.groupby("p1").size().to_dict()
    assert got == expect


def _split_parent_dir(path_col, depth):
    """The earlier split/slice/concat_ws form of parent_dir_at_depth,
    kept as the reference for the substring_index form."""
    parts = F.split(path_col, "/")
    deep_enough = (F.size(parts) - 2) >= depth
    prefix = F.concat_ws("/", F.slice(parts, 1, depth + 1))
    return F.when(deep_enough, prefix).otherwise(F.lit("NO_MAPPING"))


def test_parent_dir_key_matches_split_form(spark, inodes):
    from nnanalytics_spark.inode.engine import INodeEngine

    edges = spark.createDataFrame(
        [("/",), ("/a",), ("/a/b/",), ("//x",), ("/a/b/c/d/e/f",), ("",), (None,)], "path string"
    )
    paths = inodes.select("path").unionByName(edges)
    for depth in range(6):
        new = INodeEngine.parent_dir_at_depth(F.col("path"), depth)
        old = _split_parent_dir(F.col("path"), depth)
        rows = paths.select("path", new.alias("new"), old.alias("old")).collect()
        assert len(rows) == inodes.count() + 7
        bad = [r for r in rows if r["new"] != r["old"]]
        assert not bad, (depth, bad[:5])
        # every depth both keeps some prefixes and maps some paths away
        assert {r["new"] for r in rows} - {"NO_MAPPING"}, depth
        assert "NO_MAPPING" in {r["new"] for r in rows}, depth


def test_memory_consumed_model_constant(engine, inodes_pdf):
    got = engine.filter_sum(
        Query(set="all", sums=["memoryConsumed"], now_ms=NOW)
    ).collect()[0][0]
    pdf = inodes_pdf
    expect = int(
        (150 + 150 * pdf.numBlocks.where(pdf.type == "file", 0)).sum()
    )
    assert got == expect


def test_info_and_metrics_admin_surface(engine, inodes_pdf):
    """/info + /metrics analogs: set sizes must agree with the fixture and
    the registry column list; metrics reports live scheduler facts."""
    info = engine.info()
    assert info["numFiles"] == (inodes_pdf["type"] == "file").sum()
    assert info["numDirs"] == (inodes_pdf["type"] == "dir").sum()
    assert info["numTotal"] == info["numFiles"] + info["numDirs"]
    assert "fileSize" in info["columns"] and info["sparkVersion"]
    m = engine.metrics()
    assert m["defaultParallelism"] >= 1
    assert set(m) == {"activeJobs", "activeStages", "defaultParallelism"}
