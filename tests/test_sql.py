"""SQL dialect golden tests — mirrors TestSQL.java:42-194."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nnanalytics_spark.sql import dialect


def parse(stmt):
    return dialect.parse_select(stmt)


def test_get_inode_set():
    assert parse("SELECT * FROM files").query.set == "files"


def test_sum_filesize_by_user():
    p = parse("select user,sum(fileSize) from files group by user")
    assert p.query.set == "files"
    assert p.query.filters == []
    assert p.query.sums == ["fileSize"]
    assert p.query.type == "user"
    assert p.query.finds == []


def test_single_filter():
    p = parse("SELECT * FROM files WHERE fileSize = 0")
    assert p.query.filters == [("fileSize", "eq", "0")]


def test_or_unsupported():
    with pytest.raises(dialect.UnsupportedSqlError):
        parse("SELECT * FROM files WHERE fileSize = 0 OR user != pjeli")


def test_double_filter_and():
    p = parse("SELECT * FROM files WHERE fileSize = 0 AND user != pjeli")
    assert p.query.filters == [("fileSize", "eq", "0"), ("user", "notEq", "pjeli")]


def test_sum_with_filters(engine):
    p = parse("SELECT SUM(diskspaceConsumed) FROM files WHERE fileSize = 0 AND user != pjeli")
    assert p.query.sums == ["diskspaceConsumed"]
    assert engine.run(p.query).columns == ["diskspaceConsumed"]  # one scalar sum


def test_count_star():
    p = parse("SELECT COUNT(*) FROM files WHERE fileSize = 0 AND user != pjeli")
    assert p.query.sums == ["count"]


def test_max_becomes_find(engine):
    p = parse("SELECT MAX(diskspaceConsumed) FROM files WHERE fileSize > 0 AND user != pjeli")
    assert p.query.sums == []
    assert p.query.finds == ["max:diskspaceConsumed"]
    assert p.query.filters == [("fileSize", "gt", "0"), ("user", "notEq", "pjeli")]
    assert engine.run(p.query).columns == ["path", "diskspaceConsumed"]  # the extremal row


def test_like_startswith():
    p = parse(
        "SELECT MAX(diskspaceConsumed) FROM files WHERE path LIKE '/tmp/%' AND user != pjeli"
    )
    assert p.query.filters == [("path", "startsWith", "/tmp/"), ("user", "notEq", "pjeli")]


def test_like_placement_rules():
    assert parse("SELECT * FROM files WHERE name LIKE '%x%'").query.filters == [
        ("name", "contains", "x")
    ]
    assert parse("SELECT * FROM files WHERE name LIKE '%x'").query.filters == [
        ("name", "endsWith", "x")
    ]
    assert parse("SELECT * FROM files WHERE name LIKE 'x%'").query.filters == [
        ("name", "startsWith", "x")
    ]
    assert parse("SELECT * FROM files WHERE name LIKE 'x'").query.filters == [
        ("name", "eq", "x")
    ]


def test_group_by_count_with_filter(engine):
    p = parse("SELECT user,COUNT(*) FROM files WHERE fileSize = 0 GROUP BY user")
    assert (p.query.type, p.query.sums) == ("user", ["count"])
    assert engine.run(p.query).columns == ["user", "count"]  # a one-level histogram


def test_limit():
    p = parse("SELECT COUNT(*) FROM files WHERE fileSize = 0 AND user != pjeli LIMIT 1000")
    assert p.query.limit == 1000


def test_between_dates():
    p = parse(
        "SELECT COUNT(*) FROM files WHERE modTime BETWEEN '2024-01-01' AND '2024-06-01'"
    )
    assert p.query.filters == [
        ("modTime", "gte", "1704067200000"),
        ("modTime", "lte", "1717200000000"),
    ]


def test_between_swapped_and_equal():
    p = parse("SELECT COUNT(*) FROM files WHERE modTime BETWEEN '2024-06-01' AND '2024-01-01'")
    assert p.query.filters[0] == ("modTime", "gte", "1704067200000")
    p2 = parse("SELECT COUNT(*) FROM files WHERE modTime BETWEEN '2024-01-01' AND '2024-01-01'")
    assert p2.query.filters == [("modTime", "eq", "1704067200000")]


def test_order_by_sort():
    p = parse("SELECT user,COUNT(*) FROM files GROUP BY user ORDER BY count DESC")
    assert p.query.sort == "desc"


def test_set_knobs():
    s = dialect.SqlSession()
    assert s.execute_set("SET parentDirDepth = 5")
    assert s.parent_dir_depth == 5
    assert s.execute_set("SET timeRange = monthly")
    assert s.time_range == "monthly"
    assert not s.execute_set("SELECT 1")  # not a SET


def test_show_and_describe():
    assert set(dialect.show_tables()) == {"all", "files", "dirs"}
    cols = {c["column"] for c in dialect.describe("files")}
    assert "fileSize" in cols and "dirNumChildren" not in cols
    dcols = {c["column"] for c in dialect.describe("dirs")}
    assert "dirNumChildren" in dcols and "fileSize" not in dcols


def test_execute_end_to_end(engine, inodes_pdf):
    f = inodes_pdf[inodes_pdf.type == "file"]
    out = dialect.execute("SELECT COUNT(*) FROM files WHERE fileSize = 0", engine)
    assert out.collect()[0][0] == int((f.fileSize == 0).sum())
    hist = dialect.execute(
        "SELECT user, COUNT(*) FROM files WHERE fileSize > 0 GROUP BY user", engine
    )
    got = {r[0]: r[1] for r in hist.collect()}
    assert got == f[f.fileSize > 0].groupby("user").size().to_dict()


def test_native_spark_sql_superset(spark, inodes, inodes_pdf):
    # the package registers no views; full Spark SQL runs over one made
    # by the caller
    inodes.filter(F.col("type") == "file").createOrReplaceTempView("files")
    f = inodes_pdf[inodes_pdf.type == "file"]
    got = spark.sql("SELECT count(*) FROM files WHERE fileSize = 0").collect()[0][0]
    assert got == int((f.fileSize == 0).sum())
    # full Spark SQL works (beyond the reference dialect): OR + subquery
    got2 = spark.sql(
        "SELECT count(*) FROM files WHERE fileSize = 0 OR fileReplica = 3"
    ).collect()[0][0]
    assert got2 == int(((f.fileSize == 0) | (f.fileReplica == 3)).sum())
