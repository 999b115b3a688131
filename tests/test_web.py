"""HTTP serving-layer tests — live-server goldens shaped like the
reference's REST test suite (TestNNAnalyticsBase.java:434-763 issues real
GETs against a running WebServerMain): a ThreadingHTTPServer on an
ephemeral port, driven with http.client, asserting status codes, content
types, response bodies, and the auth matrix."""

from __future__ import annotations

import http.client
import json

import pytest

from nnanalytics_spark.core.authz import Authorizer
from nnanalytics_spark.core.ir import Query
from nnanalytics_spark.inode import fixture
from nnanalytics_spark.web.server import AnalyticsWebServer

NOW = fixture.NOW_MS


@pytest.fixture(scope="module")
def server(engine):
    srv = AnalyticsWebServer(engine, now_ms=NOW)
    port = srv.start()
    yield ("127.0.0.1", port)
    srv.stop()


def get(addr, path, user=None, method="GET", body=None):
    conn = http.client.HTTPConnection(*addr, timeout=120)
    headers = {"X-NNA-User": user} if user else {}
    conn.request(method, path, body=body, headers=headers)
    resp = conn.getresponse()
    out = (resp.status, resp.getheader("Content-Type"), resp.read().decode())
    conn.close()
    return out


def test_filter_sum_scalar_body(server, engine):
    status, ctype, body = get(server, "/filter?set=files&filters=fileSize:gt:1024&sum=count")
    assert status == 200 and ctype.startswith("text/plain")
    want = engine.filter_sum(
        Query(set="files", filters=[("fileSize", "gt", "1024")], sums=["count"], now_ms=NOW)
    ).collect()[0][0]
    assert body == str(want)


def test_filter_dump_paths_text(server):
    status, ctype, body = get(server, "/filter?set=dirs&filters=path:contains:dir1")
    assert status == 200 and ctype.startswith("text/plain")
    lines = [ln for ln in body.splitlines() if ln]
    assert lines == sorted(lines) and all("dir1" in ln for ln in lines)


def test_histogram_json(server, engine):
    status, ctype, body = get(server, "/histogram?set=files&type=user&sum=count")
    assert status == 200 and ctype.startswith("application/json")
    got = json.loads(body)
    want = {
        r[0]: r[1]
        for r in engine.histogram(Query(set="files", type="user", sums=["count"], now_ms=NOW)).collect()
    }
    assert got == want


def test_histogram_csv_output(server):
    status, ctype, body = get(
        server, "/histogram?set=files&type=user&sum=count&histogramOutput=csv"
    )
    assert status == 200 and ctype.startswith("text/plain")
    for line in body.strip().splitlines():
        key, val = line.rsplit(",", 1)
        int(val)  # value column is numeric


def test_histogram_chart_output(server):
    status, _, body = get(
        server, "/histogram?set=files&type=user&sum=count&histogramOutput=chart"
    )
    assert status == 200
    chart = json.loads(body)
    assert chart["type"] == "bar" and len(chart["labels"]) == len(chart["datasets"][0]["data"])


def test_histogram2_nested_json(server):
    status, _, body = get(server, "/histogram2?set=files&type=user,fileType&sum=count")
    assert status == 200
    nested = json.loads(body)
    assert nested and all(isinstance(v, dict) for v in nested.values())


def test_divide_ratio_body(server):
    status, ctype, body = get(
        server,
        "/divide?set1=files&sum1=count&filters1=fileSize:gt:0"
        "&set2=files&sum2=count&filters2=",
    )
    assert status == 200 and ctype.startswith("text/plain")
    assert 0.0 <= float(body) <= 1.0


def test_dump_and_content_summary(server):
    status, _, body = get(server, "/dump?path=/")
    assert status == 200
    inode = json.loads(body)
    assert inode.get("path") == "/"
    status, _, body = get(server, "/contentSummary?path=/")
    assert status == 200 and json.loads(body)


def test_discovery_and_admin_endpoints(server):
    for ep, expect in [
        ("/endpoints", "histogram"),
        ("/sets", "files"),
        ("/filters", "fileSize"),
        ("/filterOps", "gte"),
        ("/sums", "diskspaceConsumed"),
        ("/finds", "accessTime"),
        ("/histograms", "user"),
        ("/histogramOutputs", "chart"),
    ]:
        status, ctype, body = get(server, ep)
        assert status == 200 and ctype.startswith("application/json"), ep
        assert expect in json.loads(body), ep
    status, _, body = get(server, "/info")
    info = json.loads(body)
    assert info["numFiles"] > 0 and info["numDirs"] > 0
    status, _, body = get(server, "/metrics")
    assert status == 200 and "defaultParallelism" in json.loads(body)


def test_suggestion_readers(server):
    status, _, body = get(server, "/users")
    users = json.loads(body)
    assert status == 200 and users
    status, _, body = get(server, "/fileAge")
    assert status == 200 and json.loads(body)
    status, _, body = get(server, "/top?metric=numFiles&limit=3")
    top = json.loads(body)
    assert status == 200 and len(top) <= 3
    status, _, body = get(server, "/directories?limit=5")
    assert status == 200 and len(json.loads(body)) <= 5


def test_sql_endpoint(server):
    status, ctype, body = get(
        server,
        "/sql",
        method="POST",
        body="SELECT COUNT(*) FROM files WHERE fileSize > 1024",
    )
    assert status == 200
    # one header line + one value line
    header, value = body.strip().splitlines()
    int(float(value.split(",")[-1]))


def test_bad_query_is_400_unknown_is_404(server):
    status, _, body = get(server, "/histogram?set=files&type=user&nosuchparam=1")
    assert status == 400 and "nosuchparam" in body
    status, _, body = get(server, "/histogram?set=files&type=user&top=5&bottom=5")
    assert status == 400
    status, _, _ = get(server, "/noSuchEndpoint")
    assert status == 404


def test_auth_matrix_enforced(engine):
    """READER endpoints deny non-readers with 403; unsecured discovery
    stays open; /credentials reports the access classes — the reference's
    SecurityContext precedence (SecurityContext.java:416-465)."""
    srv = AnalyticsWebServer(
        engine,
        authorizer=Authorizer(admin_users=["boss"], read_users=["alice"]),
        now_ms=NOW,
    )
    addr = ("127.0.0.1", srv.start())
    try:
        ok = "/filter?set=files&sum=count"
        assert get(addr, ok, user="alice")[0] == 200
        assert get(addr, ok, user="mallory")[0] == 403
        assert get(addr, ok)[0] == 403  # anonymous
        # admin endpoint: reader denied, admin allowed
        assert get(addr, "/metrics", user="alice")[0] == 403
        assert get(addr, "/metrics", user="boss")[0] == 200
        # unsecured discovery open to anyone
        assert get(addr, "/endpoints")[0] == 200
        status, _, body = get(addr, "/credentials", user="alice")
        assert status == 200 and json.loads(body) == ["READER"]
    finally:
        srv.stop()


def test_operations_lifecycle_over_http(server):
    """submit → list → abort round-trip (reference /submitOperation
    contract: `operation` is kind[:argument], response body is the op
    id)."""
    status, ctype, body = get(
        server,
        "/submitOperation?set=files&filters=fileSize:gt:1024&operation=setReplication:2&sleep=0",
    )
    assert status == 200 and ctype.startswith("text/plain")
    op_id = int(body)
    status, _, body = get(server, "/listOperations")
    ops = json.loads(body)
    mine = [o for o in ops if o["id"] == op_id][0]
    assert mine["operation"] == "setReplication" and mine["argument"] == 2
    assert mine["total"] > 0 and mine["status"] == "running"
    status, _, body = get(server, f"/abortOperation?id={op_id}")
    assert status == 200
    mine = [o for o in json.loads(get(server, "/listOperations")[2]) if o["id"] == op_id][0]
    assert mine["status"] == "aborted"
    # bad operation name → 400
    status, _, _ = get(server, "/submitOperation?set=files&operation=chmod")
    assert status == 400
    # /operations discovery lists the supported kinds
    status, _, body = get(server, "/operations")
    assert status == 200 and "delete" in json.loads(body)


def test_cached_query_lifecycle_over_http(server, engine):
    status, _, body = get(
        server,
        "/setCachedQuery?queryName=bigFiles&set=files&filters=fileSize:gt:1024&sum=count",
    )
    assert status == 200 and "bigFiles" in body
    status, _, body = get(server, "/cachedMaps")
    assert json.loads(body) == ["bigFiles"]
    status, ctype, body = get(server, "/getCachedQuery?queryName=bigFiles")
    assert status == 200 and ctype.startswith("text/plain")
    want = engine.filter_sum(
        Query(set="files", filters=[("fileSize", "gt", "1024")], sums=["count"], now_ms=NOW)
    ).collect()[0][0]
    assert body == str(want)
    status, _, _ = get(server, "/removeCachedQuery?queryName=bigFiles")
    assert status == 200
    assert json.loads(get(server, "/cachedMaps")[2]) == []
    status, _, _ = get(server, "/getCachedQuery?queryName=bigFiles")
    assert status == 400


def test_query_endpoints_reject_misspelt_parameters(engine):
    """/submitOperation and /setCachedQuery parse their query like the
    analytic endpoints: a misspelt parameter is a 400, never a query
    with that parameter dropped (here: a delete of every file)."""
    srv = AnalyticsWebServer(engine, now_ms=NOW)
    status, _, body = srv.handle(
        "GET", "/submitOperation", "operation=delete&set=files&filter=user:eq:etl", "", "tests"
    )
    assert status == 400 and "filter" in body
    assert srv.operations.list_operations() == []
    status, _, body = srv.handle(
        "GET", "/setCachedQuery", "queryName=etl&set=files&filter=user:eq:etl", "", "tests"
    )
    assert status == 400 and "filter" in body
    assert json.loads(srv.handle("GET", "/cachedMaps", "", "", "tests")[2]) == []


def test_endpoints_lists_what_the_server_answers(engine):
    """/endpoints is the router's own table: every listed name answers
    something other than 404, and every routed name is listed; /login
    and /logout are listed when authentication is on."""
    from nnanalytics_spark.core.authn import LocalPasswordSet, SecurityManager
    from nnanalytics_spark.web import server as web

    srv = AnalyticsWebServer(engine, now_ms=NOW)
    listed = json.loads(srv.handle("GET", "/endpoints", "", "", "tests")[2])
    assert set(listed) == set(web._ROUTES)
    assert {"config", "drop", "filterOps", "histogramOutputs", "system", "threads",
            "truncate", "transforms"} <= set(listed)
    for name in listed:
        assert srv.handle("GET", f"/{name}", "", "", "tests")[0] != 404, name
    assert srv.handle("GET", "/login", "", "", "tests")[0] == 404
    sec = SecurityManager(local=LocalPasswordSet.from_plain({"alice": "pw"}))
    secured = AnalyticsWebServer(engine, now_ms=NOW, security=sec)
    status, _, body = secured.handle("GET", "/login", "username=alice&password=pw", "", "tests")[:3]
    assert status == 200
    bearer = {"authorization": "Bearer " + json.loads(body)["token"]}
    listed = json.loads(secured.handle("GET", "/endpoints", "", "", "tests", bearer)[2])
    assert set(listed) == set(web._ROUTES) | {"login", "logout"}
    assert secured.handle("GET", "/logout", "", "", "tests", bearer)[0] == 200


def test_suggestions_and_token(server):
    status, _, body = get(server, "/suggestions")
    assert status == 200
    sugg = json.loads(body)
    assert "numFiles" in sugg and "numDirs" in sugg
    status, _, body = get(server, "/token", user="alice")
    assert status == 200 and json.loads(body)["user"] == "alice"


def test_save_namespace_round_trip(spark, engine, tmp_path):
    from nnanalytics_spark.sources.layout import read_inode_table

    srv = AnalyticsWebServer(engine, now_ms=NOW, save_dir=str(tmp_path / "ns"))
    addr = ("127.0.0.1", srv.start())
    try:
        status, _, body = get(addr, "/saveNamespace")
        assert status == 200 and "Saving" in body
        saved = read_inode_table(spark, str(tmp_path / "ns"))
        assert saved.count() == engine.inodes.count()
    finally:
        srv.stop()


def test_history_endpoint_serves_sweep_archive(spark, engine, tmp_path):
    from nnanalytics_spark.inode import suggestions

    sweep_dir = str(tmp_path / "sweeps")
    suggestions.run_sweep(engine.inodes, NOW, output_dir=sweep_dir)
    srv = AnalyticsWebServer(engine, now_ms=NOW, suggestions_dir=sweep_dir)
    addr = ("127.0.0.1", srv.start())
    try:
        status, ctype, body = get(addr, "/history")
        assert status == 200 and ctype.startswith("application/json")
        records = json.loads(body)
        assert len(records) == 1 and records[0]["sweepTs"] == NOW
        assert records[0]["numFiles"] > 0
    finally:
        srv.stop()


def test_sweep_cache_staleness(spark, engine, tmp_path):
    """Time-relative sweep reports are only served within the TTL of
    their sweep-time ``now``; a drifted request recomputes live
    (ADVICE r4: a stale fileAge cache silently served wrong buckets)."""
    from nnanalytics_spark.inode import suggestions

    sweep_dir = str(tmp_path / "sweeps")
    suggestions.run_sweep(engine.inodes, NOW, output_dir=sweep_dir)
    srv = AnalyticsWebServer(engine, now_ms=NOW, suggestions_dir=sweep_dir)
    # fresh: same now → cache served
    assert srv._sweep_cache("fileAge", now_ms=NOW) is not None
    # within TTL: still served
    assert srv._sweep_cache("fileAge", now_ms=NOW + srv.SWEEP_TTL_MS) is not None
    # drifted past TTL: stale → live fallback
    assert srv._sweep_cache("fileAge", now_ms=NOW + srv.SWEEP_TTL_MS + 1) is None
    # time-insensitive readers that pass no now keep the cache
    assert srv._sweep_cache("quotaReport") is not None
    # pre-sweepMeta archives (older layout) are treated as stale
    import shutil

    shutil.rmtree(f"{sweep_dir}/sweepMeta")
    assert srv._sweep_cache("fileAge", now_ms=NOW) is None


def test_refresh_endpoint_swaps_snapshot(spark, tmp_path):
    """ADMIN /refresh re-reads the table and the serving engine sees the
    new namespace (reference /refresh + /reloadNamespace shape)."""
    from nnanalytics_spark.inode.engine import INodeEngine
    from nnanalytics_spark.streaming.refresh import SnapshotTable

    table_dir = str(tmp_path / "inodes")
    pdf = fixture.generate_pandas(levels=1, dirs_per_level=2, files_per_dir=5)
    spark.createDataFrame(pdf, schema=fixture.SCHEMA).write.parquet(table_dir)
    snap = SnapshotTable(spark, lambda s: s.read.parquet(table_dir))
    srv = AnalyticsWebServer(INodeEngine(snap.df), snapshot=snap, now_ms=NOW)
    addr = ("127.0.0.1", srv.start())
    try:
        before = int(get(addr, "/filter?set=files&sum=count")[2])
        add = fixture.generate_pandas(levels=1, dirs_per_level=1, files_per_dir=4)
        newf = add[add.type == "file"].copy()
        newf["id"] = range(900_000, 900_000 + len(newf))
        newf["path"] = [f"/fresh/f{i}" for i in range(len(newf))]
        spark.createDataFrame(newf, schema=fixture.SCHEMA).write.mode("append").parquet(table_dir)
        status, _, body = get(addr, "/refresh")
        assert status == 200 and json.loads(body)["version"] == 1
        after = int(get(addr, "/filter?set=files&sum=count")[2])
        assert after == before + 4
    finally:
        srv.stop()


def test_refresh_rebuilds_request_plans(spark, tmp_path):
    """/dump and /contentSummary reuse plan pieces built per table; after
    /refresh they must answer from the new table, not the old plans."""
    from nnanalytics_spark.inode.engine import INodeEngine
    from nnanalytics_spark.streaming.refresh import SnapshotTable

    table_dir = str(tmp_path / "inodes")
    pdf = fixture.generate_pandas(levels=1, dirs_per_level=2, files_per_dir=5)
    spark.createDataFrame(pdf, schema=fixture.SCHEMA).write.parquet(table_dir)
    snap = SnapshotTable(spark, lambda s: s.read.parquet(table_dir))
    srv = AnalyticsWebServer(INodeEngine(snap.df), snapshot=snap, now_ms=NOW)
    addr = ("127.0.0.1", srv.start())
    try:
        # first requests build the pieces over the old table
        assert json.loads(get(addr, "/dump?path=/fresh/f0")[2]) == {}
        summary = json.loads(get(addr, "/contentSummary?path=/")[2])
        add = fixture.generate_pandas(levels=1, dirs_per_level=1, files_per_dir=4)
        newf = add[add.type == "file"].copy()
        newf["id"] = range(900_000, 900_000 + len(newf))
        newf["path"] = [f"/fresh/f{i}" for i in range(len(newf))]
        spark.createDataFrame(newf, schema=fixture.SCHEMA).write.mode("append").parquet(table_dir)
        assert get(addr, "/refresh")[0] == 200
        assert json.loads(get(addr, "/dump?path=/fresh/f0")[2])["id"] == 900_000
        after = json.loads(get(addr, "/contentSummary?path=/")[2])
        assert after["fileCount"] == summary["fileCount"] + 4
    finally:
        srv.stop()


def test_sweep_ts_read_once_per_sweep(spark, engine, tmp_path, monkeypatch):
    """The sweep marker is read once per sweep, not once per request; a
    rewritten marker is seen at the next request."""
    from pyspark.sql.readwriter import DataFrameReader

    from nnanalytics_spark.core.smalldf import local_df
    from nnanalytics_spark.inode import suggestions

    sweep_dir = str(tmp_path / "sweeps")
    suggestions.run_sweep(engine.inodes, NOW, output_dir=sweep_dir)
    reads = []
    parquet = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet", lambda self, *p, **kw: reads.append(p) or parquet(self, *p, **kw)
    )
    srv = AnalyticsWebServer(engine, now_ms=NOW, suggestions_dir=sweep_dir)
    assert srv._sweep_ts() == NOW
    assert srv._sweep_ts() == NOW
    assert len([p for p in reads if p[0].endswith("sweepMeta")]) == 1
    local_df(spark, [(NOW + 5,)], "sweepTs long").write.mode("overwrite").parquet(
        f"{sweep_dir}/sweepMeta"
    )
    assert srv._sweep_ts() == NOW + 5
    assert len([p for p in reads if p[0].endswith("sweepMeta")]) == 2


def test_sweep_report_read_once_per_sweep(spark, engine, tmp_path, monkeypatch):
    """A sweep-served report is read once per sweep: requests reuse its
    DataFrame, so they run no schema job; a new sweep is seen at once."""
    from pyspark.sql.readwriter import DataFrameReader

    from nnanalytics_spark.inode import suggestions

    sweep_dir = str(tmp_path / "sweeps")
    suggestions.run_sweep(engine.inodes, NOW, output_dir=sweep_dir)
    reads = []
    parquet = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet", lambda self, *p, **kw: reads.append(p) or parquet(self, *p, **kw)
    )
    srv = AnalyticsWebServer(engine, now_ms=NOW, suggestions_dir=sweep_dir)
    first = [srv.handle("GET", "/fileAge", "", "", "tests") for _ in range(3)]
    assert len([p for p in reads if p[0].endswith("/fileAge")]) == 1
    assert first[0][0] == 200 and first[1] == first[0] == first[2]
    suggestions.run_sweep(engine.inodes, NOW, output_dir=sweep_dir)
    assert srv.handle("GET", "/fileAge", "", "", "tests") == first[0]
    assert len([p for p in reads if p[0].endswith("/fileAge")]) == 2


def test_threads_system_config_endpoints(server):
    """Ops-surface tail (/threads /system /config): JSON shape goldens
    against the live session — the reference's thread dump / system
    resources / live-config handlers."""
    status, ctype, body = get(server, "/threads")
    assert status == 200 and ctype.startswith("application/json")
    payload = json.loads(body)
    names = [t["name"] for t in payload["threads"]]
    assert "nna-web" in names  # the serving thread sees itself
    assert isinstance(payload["activeJobs"], list)

    status, _, body = get(server, "/system")
    sysinfo = json.loads(body)
    assert sysinfo["cpuCount"] >= 1 and sysinfo["sparkVersion"]
    assert "MemTotal" in sysinfo["memory"]

    status, _, body = get(server, "/config")
    conf = json.loads(body)
    assert conf.get("spark.app.name")  # live conf, not a stub
    status, ctype, body = get(server, "/config?key=spark.sql.shuffle.partitions")
    assert status == 200 and ctype.startswith("text/plain") and body == "8"
    assert get(server, "/config?key=no.such.key")[0] == 400


def test_log_endpoint_tails_file(engine, tmp_path):
    log = tmp_path / "nna.log"
    log.write_text("line-one\n" + "x" * 100 + "\nlast-line\n")
    srv = AnalyticsWebServer(engine, now_ms=NOW, log_file=str(log))
    addr = ("127.0.0.1", srv.start())
    try:
        status, ctype, body = get(addr, "/log?charsLimit=15")
        assert status == 200 and ctype.startswith("text/plain")
        assert body.endswith("last-line\n") and len(body) <= 15
        status, _, body = get(addr, "/log")
        assert status == 200 and body.startswith("line-one")
    finally:
        srv.stop()
    # unconfigured log file → 400
    srv2 = AnalyticsWebServer(engine, now_ms=NOW)
    addr2 = ("127.0.0.1", srv2.start())
    try:
        assert get(addr2, "/log")[0] == 400
    finally:
        srv2.stop()


def test_drop_endpoint_removes_cached_query_and_view(spark, server):
    get(server, "/setCachedQuery?queryName=dropMe&set=files&sum=count")
    status, _, body = get(server, "/drop?table=dropMe")
    assert status == 200 and "dropMe" in body
    assert "dropMe" not in json.loads(get(server, "/cachedMaps")[2])
    spark.range(3).createOrReplaceTempView("scratch_view")
    status, _, body = get(server, "/drop?table=scratch_view")
    assert status == 200 and "scratch_view" in body
    assert not spark.catalog.tableExists("scratch_view")
    assert get(server, "/drop?table=neverExisted")[0] == 400


def test_drop_of_a_view_keeps_the_served_table_cached(spark, inodes_pdf):
    """/drop of a view over the served table removes the name only: the
    table stays held in memory, and requests keep scanning the cache."""
    from nnanalytics_spark.inode.engine import INodeEngine

    # a table of its own, unequal to the shared fixture's cached plan
    table = spark.createDataFrame(inodes_pdf.iloc[:30], schema=fixture.SCHEMA).coalesce(1).persist()
    table.count()
    try:
        srv = AnalyticsWebServer(INodeEngine(table), now_ms=NOW)
        table.createOrReplaceTempView("over_served")
        status, _, body = srv.handle("GET", "/drop", "table=over_served", "", "admin")
        assert status == 200 and "over_served" in body
        assert not spark.catalog.tableExists("over_served")
        plan = srv.engine.inodes.filter("type = 'file'")._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
    finally:
        table.unpersist()


def test_truncate_endpoint_prunes_history(spark, engine, tmp_path):
    """/truncate?limit=<days> rewrites the sweep archive keeping only
    recent sweeps — the reference's embedded-DB retention admin."""
    from nnanalytics_spark.inode import suggestions as sugg

    day = 86_400_000
    sugg.run_sweep(engine.inodes, NOW - 10 * day, str(tmp_path))
    sugg.run_sweep(engine.inodes, NOW - 1 * day, str(tmp_path))
    srv = AnalyticsWebServer(engine, now_ms=NOW, suggestions_dir=str(tmp_path))
    addr = ("127.0.0.1", srv.start())
    try:
        before = spark.read.parquet(str(tmp_path / "history")).count()
        assert before == 2
        status, _, body = get(addr, "/truncate?limit=5")
        assert status == 200 and "1 rows kept" in body
        after = spark.read.parquet(str(tmp_path / "history"))
        assert after.count() == 1 and after.head()["sweepTs"] == NOW - day
        assert get(addr, "/truncate?limit=0")[0] == 400
    finally:
        srv.stop()


def test_admin_tail_respects_auth_matrix(engine):
    """/threads /system /log /drop /truncate are ADMIN-class; /config is
    cache-reader-class (Constants.java endpoint enum)."""
    srv = AnalyticsWebServer(
        engine,
        authorizer=Authorizer(admin_users=["boss"], cache_reader_users=["cacher"]),
        now_ms=NOW,
    )
    addr = ("127.0.0.1", srv.start())
    try:
        for ep in ("/threads", "/system", "/log", "/drop?table=x", "/truncate?limit=1"):
            assert get(addr, ep, user="cacher")[0] == 403, ep
            assert get(addr, ep, user="boss")[0] in (200, 400), ep  # authorized (400 = unconfigured)
        assert get(addr, "/config", user="cacher")[0] == 200
        assert get(addr, "/config", user="intruder")[0] == 403
    finally:
        srv.stop()


def test_metrics_tracks_per_user_usage(engine):
    """UserMetrics.java analog: /metrics carries per-user/IP query
    counts, and the auth stack feeds login/logout counts."""
    import json as _json

    from nnanalytics_spark.core.authn import LocalPasswordSet, SecurityManager
    from nnanalytics_spark.web.server import AnalyticsWebServer

    sec = SecurityManager(local=LocalPasswordSet.from_plain({"alice": "pw"}))
    srv = AnalyticsWebServer(engine, now_ms=NOW, security=sec)
    port = srv.start()
    addr = ("127.0.0.1", port)
    try:
        status, _, body = get(addr, "/login?username=alice&password=pw", method="POST")
        assert status == 200
        token = _json.loads(body)["token"]
        conn = http.client.HTTPConnection(*addr, timeout=120)
        conn.request(
            "GET",
            "/filter?set=files&filters=fileSize:gt:0&sum=count",
            headers={"Authorization": f"Bearer {token}"},
        )
        assert conn.getresponse().status == 200
        conn.close()
        conn = http.client.HTTPConnection(*addr, timeout=120)
        conn.request("GET", "/metrics", headers={"Authorization": f"Bearer {token}"})
        resp = conn.getresponse()
        metrics = _json.loads(resp.read().decode())
        conn.close()
        users = {u["userName"]: u for u in metrics["users"]}
        assert users["alice"]["totalLoginCount"] == 1
        assert users["alice"]["totalQueryCount"] == 1
        ip_counts = users["alice"]["ips"][0]["127.0.0.1"]
        assert ip_counts["queryCount"] == 1 and ip_counts["loginCount"] == 1
        # logout increments the logout counter for the resolved user
        conn = http.client.HTTPConnection(*addr, timeout=120)
        conn.request("GET", "/logout", headers={"Authorization": f"Bearer {token}"})
        assert conn.getresponse().status == 200
        conn.close()
        assert srv.usage.format_for_json()[0]["totalLogoutCount"] == 1
    finally:
        srv.stop()


def test_path_dump_streams_chunked_with_bounded_memory(server, monkeypatch):
    """VERDICT r6 #2: a path dump must not materialize on the driver.
    Wire-level: the response is Transfer-Encoding chunked with no
    Content-Length, assembled incrementally (>1 HTTP chunk when the
    batch size is tiny), and the body is byte-identical to the old
    collect()-and-join one."""
    from nnanalytics_spark.web import server as srvmod

    path = "/filter?set=files&filters=fileSize:gte:0"
    _, _, want = get(server, path)  # current (already-streamed) body
    assert want.endswith("\n") and len(want.splitlines()) > 4
    monkeypatch.setattr(srvmod, "_DUMP_BATCH_ROWS", 2)
    conn = http.client.HTTPConnection(*server, timeout=120)
    conn.request("GET", path)
    resp = conn.getresponse()
    assert resp.status == 200
    assert resp.getheader("Content-Length") is None
    assert (resp.getheader("Transfer-Encoding") or "").lower() == "chunked"
    # read incrementally: more than one read returns data before EOF,
    # i.e. the body arrives in pieces rather than one buffered blob
    pieces = []
    while True:
        piece = resp.read(64)
        if not piece:
            break
        pieces.append(piece)
    conn.close()
    assert b"".join(pieces).decode() == want
    assert len(pieces) > 1


def test_path_dump_generator_yields_incrementally(engine, monkeypatch):
    """_PathStream never holds more than one batch: with batch=2 a
    6-row dump yields 3 chunks whose concatenation equals the full
    dump, and an empty dump yields exactly one '\\n' (old-body parity).
    An uncapped stream never reports truncation; a capped one flips
    ``truncated`` only when rows were actually dropped."""
    from nnanalytics_spark.core.ir import Query
    from nnanalytics_spark.web import server as srvmod

    monkeypatch.setattr(srvmod, "_DUMP_BATCH_ROWS", 2)
    df = engine.dump_paths(Query(set="files", filters=[], now_ms=NOW)).limit(6)
    stream = srvmod._PathStream(df, None)
    chunks = list(stream)
    assert len(chunks) == 3
    assert all(len(c.rstrip("\n").split("\n")) == 2 for c in chunks)
    assert stream.truncated is False
    empty = srvmod._PathStream(df.filter("path = '/no/such/path'"), None)
    assert list(empty) == ["\n"]
    assert empty.truncated is False
    capped = srvmod._PathStream(df, 4)
    assert sum(len(c.rstrip("\n").split("\n")) for c in list(capped)) == 4
    assert capped.truncated is True
    exact = srvmod._PathStream(df, 6)
    assert sum(len(c.rstrip("\n").split("\n")) for c in list(exact)) == 6
    assert exact.truncated is False


def test_path_dump_max_rows_cap(engine):
    """The ctor cap becomes a plan-level LIMIT on unlimited dumps, and
    a capped dump is SIGNALLED: the chunked response declares and
    carries the X-NNA-Truncated trailer (ADVICE r7 — a consumer must
    be able to tell a capped dump from a complete one)."""
    import socket

    srv = AnalyticsWebServer(engine, now_ms=NOW, max_dump_rows=3)
    port = srv.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        conn.request("GET", "/filter?set=files")
        resp = conn.getresponse()
        body = resp.read().decode()
        assert resp.status == 200
        assert resp.getheader("Trailer") == "X-NNA-Truncated"
        assert len([ln for ln in body.splitlines() if ln]) == 3
        conn.close()
        # http.client discards chunked trailers — assert the raw wire
        with socket.create_connection(("127.0.0.1", port), timeout=120) as s:
            s.sendall(
                b"GET /filter?set=files HTTP/1.1\r\n"
                b"Host: x\r\nConnection: close\r\n\r\n"
            )
            wire = b""
            while True:
                piece = s.recv(65536)
                if not piece:
                    break
                wire += piece
        assert wire.endswith(b"0\r\nX-NNA-Truncated: true\r\n\r\n")
    finally:
        srv.stop()


def test_path_dump_uncapped_has_no_truncation_trailer(server):
    """A complete dump terminates cleanly with no truncation trailer."""
    conn = http.client.HTTPConnection(*server, timeout=120)
    conn.request("GET", "/filter?set=files&filters=fileSize:gte:0")
    resp = conn.getresponse()
    resp.read()
    assert resp.status == 200
    assert resp.headers.get("X-NNA-Truncated") is None
    conn.close()


def test_path_dump_early_execution_error_maps_to_500(engine, monkeypatch):
    """ADVICE r7: the first batch is pulled BEFORE the status line, so
    a Spark failure at execution time (not parse time) still produces
    a real 500 — not a 200 with a truncated chunked body."""
    from nnanalytics_spark.web import server as srvmod

    class _Boom:
        truncated = False

        def __iter__(self):
            raise RuntimeError("executor lost")
            yield  # pragma: no cover

    srv = AnalyticsWebServer(engine, now_ms=NOW)
    monkeypatch.setattr(
        srvmod.AnalyticsWebServer,
        "_analytic",
        lambda self, *a, **k: (200, "text/plain", _Boom()),
    )
    port = srv.start()
    try:
        status, _, body = get(("127.0.0.1", port), "/filter?set=files")
        assert status == 500
        assert "executor lost" in body
    finally:
        srv.stop()


def test_path_dump_midstream_error_aborts_without_terminator(engine, monkeypatch):
    """A failure AFTER bytes are sent cannot become a 500 — the
    connection must drop without the terminal 0-chunk so a
    chunked-aware client raises instead of accepting a short body."""
    from nnanalytics_spark.web import server as srvmod

    class _MidBoom:
        truncated = False

        def __iter__(self):
            yield "/a\n/b\n"
            raise RuntimeError("stage failed mid-dump")

    srv = AnalyticsWebServer(engine, now_ms=NOW)
    monkeypatch.setattr(
        srvmod.AnalyticsWebServer,
        "_analytic",
        lambda self, *a, **k: (200, "text/plain", _MidBoom()),
    )
    port = srv.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        conn.request("GET", "/filter?set=files")
        resp = conn.getresponse()
        assert resp.status == 200  # headers were already committed
        with pytest.raises(http.client.IncompleteRead):
            resp.read()
        conn.close()
    finally:
        srv.stop()


def test_gzip_response_when_accepted(server):
    """StreamingGzipOutputStream.java analog: large 200 bodies compress
    when the client advertises gzip; without the header the body is
    plain. http.client does NOT auto-decode, so assert the raw wire."""
    import gzip as _gzip

    path = "/filter?set=files&filters=fileSize:gte:0"
    conn = http.client.HTTPConnection(*server, timeout=120)
    conn.request("GET", path, headers={"Accept-Encoding": "gzip"})
    resp = conn.getresponse()
    assert resp.getheader("Content-Encoding") == "gzip"
    plain = _gzip.decompress(resp.read()).decode()
    conn.close()
    status, _, body = get(server, path)
    assert status == 200 and plain == body
