"""OIV fsimage-export reader + registered-directory stats + filter parsing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nnanalytics_spark.core import ir
from nnanalytics_spark.core.ir import Query
from nnanalytics_spark.inode import fixture, subtree
from nnanalytics_spark.inode.engine import INodeEngine
from nnanalytics_spark.sources import loader

OIV_HEADER = "Path\tReplication\tModificationTime\tAccessTime\tPreferredBlockSize\tBlocksCount\tFileSize\tNSQUOTA\tDSQUOTA\tPermission\tUserName\tGroupName"
OIV_ROWS = [
    "/\t0\t2024-01-01 10:00\t1970-01-01 00:00\t0\t0\t0\t9223372036854775807\t-1\tdrwxr-xr-x\thdfs\tsupergroup",
    "/data\t0\t2024-02-01 10:00\t1970-01-01 00:00\t0\t0\t0\t-1\t-1\tdrwxr-xr-x\thdfs\tsupergroup",
    "/data/part-00000.gz\t3\t2024-03-05 11:22\t2024-04-01 09:00\t134217728\t2\t200000000\t0\t0\t-rw-r--r--\tetl\thadoop",
    "/data/_SUCCESS\t1\t2024-03-05 11:25\t2024-03-05 11:25\t134217728\t0\t0\t0\t0\t-rw-r--r--\tetl\thadoop",
]


def test_read_fsimage_csv(spark, tmp_path):
    src = tmp_path / "fsimage.tsv"
    src.write_text(OIV_HEADER + "\n" + "\n".join(OIV_ROWS) + "\n")
    df = loader.read_fsimage_csv(spark, str(src))
    rows = {r["path"]: r for r in df.collect()}
    assert rows["/data"]["type"] == "dir"
    f = rows["/data/part-00000.gz"]
    assert (f["type"], f["name"], f["parent"]) == ("file", "part-00000.gz", "/data")
    assert (f["fileSize"], f["numBlocks"], f["fileReplica"]) == (200000000, 2, 3)
    assert f["permission"] == 0o644
    assert rows["/data/_SUCCESS"]["fileSize"] == 0

    # the loaded table drives the engine end-to-end
    eng = INodeEngine(df)
    got = eng.histogram(
        Query(set="files", type="fileType", sums=["count"], now_ms=fixture.NOW_MS)
    ).collect()
    assert {r[0]: r[1] for r in got} == {"PART": 1, "_SUCCESS": 1}


def test_registered_directory_stats(inodes, inodes_pdf):
    watch = ["/dir0", "/dir1", "/dir0/dir1", "/"]
    out = {r["directory"]: (r["count"], r["diskspaceConsumed"])
           for r in subtree.registered_directory_stats(inodes, watch).collect()}
    f = inodes_pdf[inodes_pdf.type == "file"].copy()
    f["dsc"] = f.fileSize * f.fileReplica
    for d in watch:
        prefix = (d.rstrip("/") + "/") if d != "/" else "/"
        sub = f[f.path.str.startswith(prefix)]
        assert out[d] == (len(sub), sub.dsc.sum()), d


def test_parse_filter_triplets():
    got = ir.parse_filter_triplets("fileSize:lte:1024,fileSize:gt:0")
    assert got == [("fileSize", "lte", "1024"), ("fileSize", "gt", "0")]
    # values containing ':' survive (path filters)
    assert ir.parse_filter_triplets("path:startsWith:/a:b")[0][2] == "/a:b"


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the same key must join without an Exchange
    on either input — the co-located fact-fact join path at scale."""
    from nnanalytics_spark.sources import layout

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    layout.write_bucketed(
        orders, "b_orders", "o_orderkey", 8, sort_col="o_orderkey", path=str(tmp_path / "o")
    )
    layout.write_bucketed(
        lineitem, "b_lineitem", "l_orderkey", 8, sort_col="l_orderkey", path=str(tmp_path / "li")
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test scale Spark would rather broadcast the tiny table; force
        # the shuffle-join path the bucketing exists to serve at real scale
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = layout.read_table(spark, "b_orders")
        li = layout.read_table(spark, "b_lineitem")
        joined = li.join(o, li.l_orderkey == o.o_orderkey).select("o_orderkey", "l_quantity")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_fsimage_binary_summary(tmp_path):
    """FileSummary trailer parse: magic, layout version sign, section
    index with correct offsets/lengths."""
    from nnanalytics_spark.sources import fsimage

    img = fsimage.write_fsimage_binary(str(tmp_path), n_dirs=2, files_per_dir=3)
    s = fsimage.parse_summary(img)
    assert s["ondiskVersion"] == 1
    assert s["layoutVersion"] == -64  # uint32 wire value decoded as signed
    assert s["codec"] is None
    assert set(s["sections"]) == {"STRING_TABLE", "INODE", "INODE_DIR"}
    for off, ln in s["sections"].values():
        assert off >= len(fsimage.MAGIC) and ln > 0


def test_fsimage_binary_matches_xml_reader(spark, tmp_path):
    """The protobuf reader and the OIV-XML reader must produce IDENTICAL
    stored-schema rows for the same closed-form namespace — two container
    formats, two independent parsers, one contract."""
    from nnanalytics_spark.sources import fsimage, oivgen

    oivgen.write_oiv_xml(str(tmp_path / "xml"), n_dirs=3, files_per_dir=7)
    fsimage.write_fsimage_binary(str(tmp_path / "bin"), n_dirs=3, files_per_dir=7)
    from_xml = loader.read_fsimage_xml(spark, str(tmp_path / "xml"))
    from_bin = fsimage.read_fsimage_binary(
        spark, str(tmp_path / "bin" / "fsimage_0000000000000000001"), batch=8
    )
    cols = [
        "id", "type", "path", "name", "parent", "user", "group", "permission",
        "accessTime", "modTime", "fileSize", "fileReplica", "numBlocks",
        "nsQuota", "dsQuota",
    ]
    rx = sorted(tuple(r) for r in from_xml.select(cols).collect())
    rb = sorted(tuple(r) for r in from_bin.select(cols).collect())
    assert len(rb) == 1 + 3 + 3 * 7
    assert rx == rb


def test_resolve_paths_walks_a_deep_chain(spark):
    """A 70-level chain resolves every path (the walk is bounded by
    HDFS's MAX_PATH_DEPTH, not a default that drops deep inodes); an
    orphan, whose parent is not in the image, is dropped."""
    depth = 70
    names = spark.createDataFrame(
        [(i, f"d{i}" if i else "") for i in range(depth + 1)] + [(999, "orphan")],
        "id long, name string",
    )
    edges = spark.createDataFrame(
        [(i - 1, i) for i in range(1, depth + 1)] + [(998, 999)], "parent_id long, id long"
    )
    got = dict(loader.resolve_paths(names, edges).collect())
    assert len(got) == depth + 1
    assert got[0] == "/" and got[1] == "/d1"
    assert got[depth] == "".join(f"/d{i}" for i in range(1, depth + 1))


def test_fsimage_load_holds_one_checkpoint_per_level(spark, tmp_path):
    """Loading a depth-2 image leaves in storage only the walk's node
    table, one checkpoint per non-empty level and the held table."""
    from nnanalytics_spark import __main__ as cli
    from nnanalytics_spark.sources import fsimage

    img = fsimage.write_fsimage_binary(str(tmp_path), n_dirs=2, files_per_dir=3)

    def stored():
        return {info.id() for info in spark._jsc.sc().getRDDStorageInfo()}

    before = stored()
    inodes = cli._load_inodes(spark, img, "fsimage")
    try:
        assert inodes.count() == 1 + 2 + 2 * 3
        assert len(stored() - before) <= 6
    finally:
        inodes.unpersist()


def test_fsimage_gzip_sections_match_uncompressed(spark, tmp_path):
    """codec='gzip' writes each section as an independent gzip stream and
    stamps FileSummary.codec with Hadoop's GzipCodec class name (the
    dfs.image.compress=true layout); the reader must inflate through the
    sidecar path and emit rows IDENTICAL to the uncompressed image."""
    from nnanalytics_spark.sources import fsimage

    plain = fsimage.write_fsimage_binary(str(tmp_path / "p"), n_dirs=3, files_per_dir=7)
    gz = fsimage.write_fsimage_binary(
        str(tmp_path / "z"), n_dirs=3, files_per_dir=7, codec="gzip"
    )
    s = fsimage.parse_summary(gz)
    assert s["codec"] == "org.apache.hadoop.io.compress.GzipCodec"
    # compressed offsets/lengths index the compressed byte ranges
    assert all(ln > 0 for _off, ln in s["sections"].values())
    rp = sorted(tuple(r) for r in fsimage.read_fsimage_binary(spark, plain, batch=8).collect())
    rz = sorted(
        tuple(r)
        for r in fsimage.read_fsimage_binary(
            spark, gz, batch=8, scratch_dir=str(tmp_path)
        ).collect()
    )
    assert len(rz) == 1 + 3 + 3 * 7
    assert rp == rz


def test_fsimage_unknown_codec_rejected(tmp_path):
    """An image declaring a codec the loader has no inflater for must
    fail loudly, not decode garbage."""
    import pytest

    from nnanalytics_spark.sources import fsimage

    img = fsimage.write_fsimage_binary(str(tmp_path), n_dirs=2, files_per_dir=2)
    summary = fsimage.parse_summary(img)
    summary["codec"] = "com.example.compress.MysteryCodec"
    with pytest.raises(NotImplementedError, match="MysteryCodec"):
        fsimage._inflate_sections(img, summary, ("INODE",), None)


@pytest.mark.parametrize("codec", ["lz4", "snappy", "bzip2", "zstd"])
def test_fsimage_block_codec_sections_match_uncompressed(spark, tmp_path, codec):
    """Lz4Codec / SnappyCodec (Hadoop BlockCompressorStream framing) and
    BZip2Codec / ZStandardCodec (standard bz2 / zstd streams) images —
    the full codec set NameNodeLoader.java:361 accepts — decode to rows
    IDENTICAL to the uncompressed image, through the same
    streaming-sidecar path as gzip."""
    from nnanalytics_spark.sources import fsimage

    plain = fsimage.write_fsimage_binary(
        str(tmp_path / "p"), n_dirs=3, files_per_dir=7
    )
    comp = fsimage.write_fsimage_binary(
        str(tmp_path / "c"), n_dirs=3, files_per_dir=7, codec=codec
    )
    s = fsimage.parse_summary(comp)
    assert s["codec"] == {
        "lz4": "org.apache.hadoop.io.compress.Lz4Codec",
        "snappy": "org.apache.hadoop.io.compress.SnappyCodec",
        "bzip2": "org.apache.hadoop.io.compress.BZip2Codec",
        "zstd": "org.apache.hadoop.io.compress.ZStandardCodec",
    }[codec]
    rp = sorted(
        tuple(r) for r in fsimage.read_fsimage_binary(spark, plain, batch=8).collect()
    )
    rc = sorted(
        tuple(r)
        for r in fsimage.read_fsimage_binary(
            spark, comp, batch=8, scratch_dir=str(tmp_path)
        ).collect()
    )
    assert len(rc) == 1 + 3 + 3 * 7
    assert rp == rc


@pytest.mark.parametrize("codec", ["lz4", "bzip2", "zstd"])
def test_fsimage_block_codec_truncated_section_raises(tmp_path, codec):
    """A compressed section whose declared length cuts the stream short
    must raise, not decode a prefix silently — for the Hadoop block
    framing AND the standard-stream codecs."""
    from nnanalytics_spark.sources import fsimage

    img = fsimage.write_fsimage_binary(
        str(tmp_path), n_dirs=2, files_per_dir=3, codec=codec
    )
    summary = fsimage.parse_summary(img)
    off, ln = summary["sections"]["INODE"]
    summary["sections"]["INODE"] = (off, ln - 3)
    with pytest.raises(ValueError, match="INODE"):
        fsimage._inflate_sections(img, summary, ("INODE",), None)


def test_fsimage_binary_small_batches_parallel_decode(spark, tmp_path):
    """batch=4 over 31 inodes forces multi-range decode; quota signs
    (-1 stored as 2^64-1 varint) must come back negative."""
    from nnanalytics_spark.sources import fsimage

    img = fsimage.write_fsimage_binary(str(tmp_path), n_dirs=5, files_per_dir=5)
    df = fsimage.read_fsimage_binary(spark, img, batch=4)
    root = df.filter("path = '/'").head()
    assert root["nsQuota"] == 9000 and root["dsQuota"] == -1
    dirs = df.filter("type = 'dir' AND path != '/'")
    assert dirs.count() == 5
    assert dirs.filter("nsQuota = -1 AND dsQuota = -1").count() == 5
    files = df.filter("type = 'file'")
    assert files.count() == 25
    assert files.filter("user IS NULL OR \"group\" IS NULL").count() == 0


def test_fetch_namespace_http_roundtrip(spark, tmp_path):
    """fetch_namespace over a REAL local HTTP server (stdlib http.server
    on an ephemeral port) serving a binary fsimage at the image-transfer
    servlet path — then the loaded rows must match reading the source
    image directly (TransferFsImageWrapper.java:43-100 parity)."""
    import http.server
    import threading

    from nnanalytics_spark.sources import fetch, fsimage

    img = fsimage.write_fsimage_binary(str(tmp_path / "src"), n_dirs=2, files_per_dir=4)
    blob = open(img, "rb").read()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == fetch.IMAGE_TRANSFER_PATH:
                self.send_response(200)
                self.send_header("Content-Length", str(len(blob)))
                self.end_headers()
                self.wfile.write(blob)
            else:
                self.send_error(404)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        df = fetch.fetch_and_load(spark, url, str(tmp_path / "ns"), batch=8)
        direct = fsimage.read_fsimage_binary(spark, img, batch=8)
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, direct.collect()))
    finally:
        srv.shutdown()
        srv.server_close()


def test_fetch_namespace_rejects_non_image(tmp_path):
    """An endpoint answering with an HTML error page must fail the magic
    check and leave NO partial file behind."""
    import io
    import os

    import pytest

    from nnanalytics_spark.sources import fetch

    def bad_transport(url):
        return io.BytesIO(b"<html>503 Service Unavailable</html>")

    with pytest.raises(ValueError, match="did not return an fsimage"):
        fetch.fetch_namespace("http://nn:9870", str(tmp_path / "ns"), bad_transport)
    assert os.listdir(tmp_path / "ns") == []


def test_fetch_namespace_injected_transport(spark, tmp_path):
    """Injectable transport (the air-gapped/test path): bytes come from a
    file-like, the servlet URL is still composed correctly."""
    import io

    from nnanalytics_spark.sources import fetch, fsimage

    img = fsimage.write_fsimage_binary(
        str(tmp_path / "src"), n_dirs=2, files_per_dir=3, codec="gzip"
    )
    seen = {}

    def transport(url):
        seen["url"] = url
        return io.BytesIO(open(img, "rb").read())

    df = fetch.fetch_and_load(
        spark, "http://active-nn:9870/", str(tmp_path / "ns"), transport=transport
    )
    assert seen["url"] == "http://active-nn:9870/imagetransfer?getimage=1&txid=latest"
    assert df.count() == 1 + 2 + 2 * 3  # root + dirs + files (gzip image decodes too)
