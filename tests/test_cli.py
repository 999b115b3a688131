"""CLI entry point (__main__.py — ApplicationMain/WebServerMain analog):
properties parsing, one-shot query, sweep, and an HTTP round-trip
against a served engine."""

from __future__ import annotations

import http.client
import io
import sys

import pytest
from pyspark import StorageLevel

from nnanalytics_spark import __main__ as cli
from nnanalytics_spark.inode import fixture


def _inode_parquet(spark, tmp_path):
    p = str(tmp_path / "inodes.parquet")
    pdf = fixture.generate_pandas(levels=1, dirs_per_level=2, files_per_dir=6)
    spark.createDataFrame(pdf, schema=fixture.SCHEMA).write.parquet(p)
    return p


def test_read_properties(tmp_path):
    f = tmp_path / "app.properties"
    f.write_text("# comment\nnna.port = 9911\nauthorization.enable=true\n\n")
    props = cli._read_properties(str(f))
    assert props == {"nna.port": "9911", "authorization.enable": "true"}


def test_cli_query_prints_csv(spark, tmp_path, capsys):
    src = _inode_parquet(spark, tmp_path)
    rc = cli.main(
        ["query", "--source", src, "/histogram?set=files&type=user&sum=count"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    lines = [ln for ln in out.strip().splitlines() if ln]
    assert lines[0].split(",")[0] == "user" and len(lines) > 1


def test_cli_sweep_writes_reports(spark, tmp_path, capsys):
    src = _inode_parquet(spark, tmp_path)
    out_dir = str(tmp_path / "sweeps")
    rc = cli.main(["sweep", "--source", src, "--out", out_dir])
    assert rc == 0
    assert "sweep wrote" in capsys.readouterr().out
    import os

    assert os.path.isdir(out_dir)


def test_cli_serve_http_roundtrip(spark, tmp_path, monkeypatch):
    src = _inode_parquet(spark, tmp_path)
    # run serve but capture the server instead of blocking forever
    import nnanalytics_spark.web.server as websrv

    started = {}
    real_start = websrv.AnalyticsWebServer.start

    def capture_start(self):
        port = real_start(self)
        started["server"], started["port"] = self, port
        return port

    def probe_then_stop(_seconds):
        # runs inside serve's sleep loop — the server is live here
        srv, port = started["server"], started["port"]
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        conn.request("GET", "/filter?set=files&filters=fileSize:gte:0&sum=count")
        resp = conn.getresponse()
        started["status"], started["body"] = resp.status, resp.read().decode()
        conn.close()
        raise KeyboardInterrupt  # serve's documented shutdown path

    monkeypatch.setattr(websrv.AnalyticsWebServer, "start", capture_start)
    monkeypatch.setattr(cli.time, "sleep", probe_then_stop)
    f = tmp_path / "app.properties"
    f.write_text("nna.port=0\n")
    rc = cli.main(["serve", "--source", src, "--conf", str(f)])
    assert rc == 0
    assert started["status"] == 200 and started["body"].strip().isdigit()


def test_nested_get_spark_preserves_host_session_conf(spark):
    # the CLI (and any library code) calling get_spark() inside a process
    # that already has a session must NOT clobber that session's runtime
    # conf — getOrCreate applies builder configs to existing sessions, so
    # get_spark returns the active session untouched instead
    from nnanalytics_spark.session import get_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    s2 = get_spark("nested-should-reuse")
    assert s2 is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# --------------------------------------------------------------------------
# load path: decoded formats are held in memory, parquet stays a scan
# --------------------------------------------------------------------------


def _decoded_source(fmt: str, tmp_path):
    """(source path, lazy reader) for one decoded --format."""
    from nnanalytics_spark.sources import fsimage, loader, oivgen

    if fmt == "fsimage":
        src = fsimage.write_fsimage_binary(str(tmp_path), n_dirs=3, files_per_dir=5)
        return src, fsimage.read_fsimage_binary
    if fmt == "oiv-xml":
        oivgen.write_oiv_xml(str(tmp_path), n_dirs=3, files_per_dir=5)
        return str(tmp_path), loader.read_fsimage_xml
    from test_sources import OIV_HEADER, OIV_ROWS

    src = tmp_path / "fsimage.tsv"
    src.write_text(OIV_HEADER + "\n" + "\n".join(OIV_ROWS) + "\n")
    return str(src), loader.read_fsimage_csv


def _plan(df) -> list:
    """df's executed-plan operators, not descending into cached relations
    (InMemoryTableScan is a leaf)."""
    from nnanalytics_spark.core.planlint import _walk

    return list(_walk(df._jdf.queryExecution().executedPlan()))


_LOAD_URLS = (
    "/filter?set=files&sum=count",
    "/filter?set=files&filters=fileSize:gte:0&sum=fileSize",
    "/histogram?set=files&type=user&sum=count",
)


@pytest.mark.parametrize("fmt", ["fsimage", "oiv", "oiv-xml"])
def test_load_decoded_formats_serve_from_memory(spark, tmp_path, fmt):
    from nnanalytics_spark.core import url as urlmod
    from nnanalytics_spark.inode.engine import INodeEngine

    src, read = _decoded_source(fmt, tmp_path)
    inodes = cli._load_inodes(spark, src, fmt)
    try:
        assert inodes.is_cached
        assert inodes.storageLevel == StorageLevel.MEMORY_AND_DISK
        engine, lazy = INodeEngine(inodes), INodeEngine(read(spark, src))

        df = urlmod.run_url(engine, "/filter?set=files&sum=count", now_ms=fixture.NOW_MS)
        df.collect()
        nodes = [n.getClass().getSimpleName() for n in _plan(df)]
        assert "InMemoryTableScanExec" in nodes, nodes
        assert not [n for n in nodes if "Python" in n or "Pandas" in n], nodes

        for u in _LOAD_URLS:
            got = urlmod.run_url(engine, u, now_ms=fixture.NOW_MS).collect()
            want = urlmod.run_url(lazy, u, now_ms=fixture.NOW_MS).collect()
            assert sorted(map(tuple, got)) == sorted(map(tuple, want)), u
            assert got, u
    finally:
        inodes.unpersist()


def test_load_parquet_stays_a_pruned_scan(spark, tmp_path):
    from nnanalytics_spark.core import url as urlmod
    from nnanalytics_spark.inode.engine import INodeEngine
    from nnanalytics_spark.sources import layout

    src = str(tmp_path / "layout")
    pdf = fixture.generate_pandas(levels=1, dirs_per_level=2, files_per_dir=6)
    layout.write_inode_table(spark.createDataFrame(pdf, schema=fixture.SCHEMA), src, 2)
    inodes = cli._load_inodes(spark, src, "parquet")
    assert not inodes.is_cached

    df = urlmod.run_url(INodeEngine(inodes), "/filter?set=files&sum=count", now_ms=fixture.NOW_MS)
    assert df.collect()[0][0] == int((pdf.type == "file").sum())
    scans = [n for n in _plan(df) if n.getClass().getSimpleName() == "FileSourceScanExec"]
    assert scans
    for scan in scans:
        pf = scan.partitionFilters().toString()
        assert "type" in pf and "file" in pf, pf
