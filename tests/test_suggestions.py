"""SuggestionsEngine-sweep metric parity vs pandas expectations."""

from __future__ import annotations

from nnanalytics_spark.inode import fixture, suggestions

NOW = fixture.NOW_MS
KB, MB = 1024, 1024 * 1024
BLOCK = 134_217_728
YEAR_MS = 365 * 86_400_000


def files(pdf):
    return pdf[pdf.type == "file"]


def test_file_scalars_size_classes(inodes, inodes_pdf):
    row = suggestions.file_scalars(inodes, NOW).collect()[0].asDict()
    f = files(inodes_pdf)
    assert row["numFiles"] == len(f)
    assert row["emptyFiles"] == int((f.fileSize == 0).sum())
    assert row["tinyFiles"] == int(((f.fileSize > 0) & (f.fileSize <= KB)).sum())
    assert row["smallFiles"] == int(((f.fileSize > KB) & (f.fileSize <= MB)).sum())
    assert row["mediumFiles"] == int(((f.fileSize > MB) & (f.fileSize <= BLOCK)).sum())
    # largeFiles = numFiles - others (SuggestionsEngine.java:375-376)
    assert (
        row["largeFiles"]
        == row["numFiles"] - row["emptyFiles"] - row["tinyFiles"] - row["smallFiles"] - row["mediumFiles"]
    )
    assert row["oldFiles1yr"] == int((f.accessTime <= NOW - YEAR_MS).sum())
    dsc = f.fileSize * f.fileReplica
    assert row["oldFiles1yrDs"] == int(dsc[f.accessTime <= NOW - YEAR_MS].sum())


def test_dir_scalars(inodes, inodes_pdf):
    row = suggestions.dir_scalars(inodes, NOW).collect()[0].asDict()
    d = inodes_pdf[inodes_pdf.type == "dir"]
    assert row["numDirs"] == len(d)
    assert row["emptyDirs"] == int((d.dirNumChildren == 0).sum())


def test_per_user_consistency(inodes, inodes_pdf):
    rows = {r["user"]: r.asDict() for r in suggestions.per_user_report(inodes, NOW).collect()}
    f = files(inodes_pdf)
    for user, grp in f.groupby("user"):
        assert rows[user]["numFiles"] == len(grp)
        assert rows[user]["emptyFiles"] == int((grp.fileSize == 0).sum())
    # per-user battery sums to global scalars
    glob = suggestions.file_scalars(inodes, NOW).collect()[0].asDict()
    assert sum(r["numFiles"] for r in rows.values()) == glob["numFiles"]
    assert sum(r["tinyFiles"] for r in rows.values()) == glob["tinyFiles"]


def test_file_age_histogram_totals(inodes, inodes_pdf):
    out = suggestions.file_age_histogram(inodes, NOW).collect()
    assert sum(r["count"] for r in out) == len(files(inodes_pdf))


def test_top_directories(inodes, inodes_pdf):
    out = suggestions.top_directories(inodes, depth=1, k=3).collect()
    f = files(inodes_pdf).copy()
    f["p1"] = "/" + f.path.str.split("/").str[1]
    expect = f.groupby("p1").size().sort_values(ascending=False)
    assert out[0]["directory"] == expect.index[0]
    assert out[0]["count"] == expect.iloc[0]


def test_quota_report_threshold(inodes, inodes_pdf):
    rows = suggestions.quota_report(inodes).collect()
    d = inodes_pdf[(inodes_pdf.type == "dir") & (inodes_pdf.nsQuota >= 0)]
    assert len(rows) == len(d)
    for r in rows[:20]:
        if r["nsQuota"] and r["nsQuota"] > 0:
            assert r["nsQuotaRatioUsed"] == int(100 * r["nsQuotaUsed"] / r["nsQuota"])


def test_sweep_writes_history(inodes, tmp_path):
    out = suggestions.run_sweep(inodes, NOW, str(tmp_path))
    assert set(out) >= {"fileScalars", "perUser", "quotaReport"}
    spark = inodes.sparkSession
    hist = spark.read.parquet(str(tmp_path / "history"))
    assert hist.count() == 1
    suggestions.run_sweep(inodes, NOW + 1000, str(tmp_path))
    assert spark.read.parquet(str(tmp_path / "history")).count() == 2


def test_sweep_history_row_is_the_file_scalars_row(inodes, tmp_path):
    suggestions.run_sweep(inodes, NOW, str(tmp_path))
    spark = inodes.sparkSession
    (scalars,) = spark.read.parquet(str(tmp_path / "fileScalars")).collect()
    (hist,) = spark.read.parquet(str(tmp_path / "history")).collect()
    assert hist.asDict() == {**scalars.asDict(), "sweepTs": NOW}
