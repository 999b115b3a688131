"""REST workloads: the shipped server in its own process, driven over
loopback HTTP by closed-loop client threads of this process.

Each request carries its oracle. Answers are kept during the timed
window and checked against DuckDB over the same inputs afterwards; a
wrong answer or a non-200 status counts as failed and fails the run.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
import uuid
from dataclasses import dataclass
from urllib.parse import quote

import numpy as np

from common import BENCH_DIR, WORK, CorrectnessError, median, p90_tail, percentile
from layers import REST_CLASSES

# -------------------------------------------------------------- requests


@dataclass
class Request:
    cls: str
    url: str
    check: object  # (body: str, con) -> bool


def _q(con, sql: str):
    return con.sql(sql).fetchall()


def _scalar(sql: str):
    return lambda body, con: body == str(_q(con, sql)[0][0])


def _exact_json(sql: str, nested: bool = False, arrays: bool = False):
    def check(body, con):
        rows = _q(con, sql)
        if nested:
            want: dict = {}
            for k1, k2, v in rows:
                want.setdefault(k1, {})[k2] = v
        elif arrays:
            want = {r[0]: list(r[1:]) for r in rows}
        else:
            want = {k: v for k, v in rows}
        return json.loads(body) == want
    return check


def _json_total(sql: str, first: bool = False):
    """Histograms whose bins have no plain-SQL twin: the bins must sum to
    the set's total."""
    def check(body, con):
        values = json.loads(body).values()
        total = sum(v[0] if first else v for v in values)
        return total == _q(con, sql)[0][0]
    return check


def _top_k(sql: str, k: int):
    """Top-k bins: each returned count is right, and none left out is
    larger than the smallest returned (ties may resolve either way)."""
    def check(body, con):
        got = json.loads(body)
        want = dict(_q(con, sql))
        if len(got) != min(k, len(want)) or any(want.get(key) != v for key, v in got.items()):
            return False
        rest = [v for key, v in want.items() if key not in got]
        return not rest or max(rest) <= min(got.values())
    return check


def _csv_groups(sql: str):
    def check(body, con):
        lines = body.strip().split("\n")[1:]
        got = {a: int(b) for a, b in (line.rsplit(",", 1) for line in lines)}
        return got == {k: v for k, v in _q(con, sql)}
    return check


def _csv_last(sql: str):
    return lambda body, con: body.strip().split("\n")[-1] == str(_q(con, sql)[0][0])


def _ratio(sql: str):
    def check(body, con):
        a, b = _q(con, sql)[0]
        return math.isclose(float(body), a / b, rel_tol=1e-12)
    return check


def _fields(sql: str, names: tuple[str, ...]):
    def check(body, con):
        got = json.loads(body)
        row = _q(con, sql)[0]
        return all(got.get(n) == v for n, v in zip(names, row))
    return check


def _listing(*must: str):
    return lambda body, con: set(must) <= set(json.loads(body))


def point_requests(con, seed: int) -> list[list[Request]]:
    """rest_point's mix: one variant list per request class, parameters
    (users, thresholds, paths) chosen by the seed."""
    rng = np.random.default_rng(seed + 101)
    users = [r[0] for r in _q(con, "SELECT DISTINCT \"user\" FROM ns ORDER BY 1")]
    files = [r[0] for r in _q(con, "SELECT path FROM ns WHERE type='file' ORDER BY path")]
    dirs2 = [r[0] for r in _q(con, "SELECT path FROM ns WHERE type='dir' AND path LIKE '/%/%' "
                                   "AND path NOT LIKE '/%/%/%' ORDER BY path")]
    picks = lambda seq, n: [seq[i] for i in rng.choice(len(seq), size=n, replace=False)]  # noqa: E731
    f = "FROM ns WHERE type='file'"
    out: dict[str, list[Request]] = {c: [] for c in REST_CLASSES}
    for user in picks(users, 3):
        size = int(rng.choice([0, 1024, 4096, 1_048_576]))
        where = f"{f} AND \"user\"='{user}' AND fileSize > {size}"
        out["filter_sum"].append(Request(
            "filter_sum", f"/filter?set=files&filters=user:eq:{user},fileSize:gt:{size}&sum=count",
            _scalar(f"SELECT count(*) {where}")))
        out["filter_sum"].append(Request(
            "filter_sum", f"/filter?set=files&filters=user:eq:{user},fileSize:gt:{size}&sum=fileSize",
            _scalar(f"SELECT sum(fileSize) {where}")))
        out["filter_find"].append(Request(
            "filter_find", f"/filter?set=files&filters=user:eq:{user}&find=max:fileSize",
            lambda body, con, u=user: body == "{},{}\n".format(*_q(
                con, f"SELECT path, fileSize {f} AND \"user\"='{u}' ORDER BY fileSize DESC, path LIMIT 1")[0])))
        out["divide"].append(Request(
            "divide", f"/divide?set1=files&filters1=user:eq:{user}&sum1=fileSize&set2=files&sum2=fileSize",
            _ratio(f"SELECT (SELECT sum(fileSize) {f} AND \"user\"='{user}')::DOUBLE, "
                   f"(SELECT sum(fileSize) {f})::DOUBLE")))
        out["sql"].append(Request(
            "sql", "/sql?sqlStatement=" + quote(
                f"SELECT COUNT(*) FROM files WHERE fileSize > {size} AND user = '{user}'"),
            _csv_last(f"SELECT count(*) {where}")))
    total = f"SELECT count(*) {f}"
    out["histogram"] += [
        Request("histogram", "/histogram?set=files&type=user&sum=count&top=5",
                _top_k(f"SELECT \"user\", count(*) {f} GROUP BY 1", 5)),
        Request("histogram", "/histogram?set=files&type=fileType&sum=count", _json_total(total)),
        Request("histogram", "/histogram?set=files&type=fileSize&sum=count", _json_total(total)),
        Request("histogram", "/histogram?set=files&type=modTime&timeRange=monthly&sum=count",
                _json_total(total)),
    ]
    out["histogram_parentdir"].append(Request(
        "histogram_parentdir", "/histogram?set=files&type=parentDir&parentDirDepth=2&sum=count&top=10",
        _top_k("SELECT '/' || split_part(path, '/', 2) || '/' || split_part(path, '/', 3), count(*) "
               f"{f} AND len(string_split(path, '/')) - 2 >= 2 GROUP BY 1", 10)))
    out["histogram2"].append(Request(
        "histogram2", "/histogram2?set=files&type=user,group&sum=count",
        _exact_json(f"SELECT \"user\", \"group\", count(*) {f} GROUP BY 1, 2", nested=True)))
    out["histogram3"].append(Request(
        "histogram3", "/histogram3?set=files&type=user&sum=count,fileSize",
        _exact_json(f"SELECT \"user\", count(*), sum(fileSize) {f} GROUP BY 1", arrays=True)))
    out["sql"].append(Request(
        "sql", "/sql?sqlStatement=" + quote("SELECT user, COUNT(*) FROM files GROUP BY user"),
        _csv_groups(f"SELECT \"user\", count(*) {f} GROUP BY 1")))
    for path in picks(files, 4):
        out["dump"].append(Request(
            "dump", f"/dump?path={quote(path)}",
            _fields(f"SELECT id, fileSize, \"user\", modTime, path FROM ns WHERE path='{path}'",
                    ("id", "fileSize", "user", "modTime", "path"))))
    for path in picks(dirs2, 3):
        out["content_summary"].append(Request(
            "content_summary", f"/contentSummary?path={quote(path)}",
            _fields("SELECT sum(CASE WHEN type='file' THEN 1 ELSE 0 END), "
                    "sum(CASE WHEN type='dir' THEN 1 ELSE 0 END), "
                    "sum(CASE WHEN type='file' THEN fileSize ELSE 0 END) "
                    f"FROM ns WHERE path = '{path}' OR path LIKE '{path}/%'",
                    ("fileCount", "dirCount", "length"))))
    out["suggestion"] += [
        Request("suggestion", "/fileAge", _json_total(total, first=True)),
        Request("suggestion", "/top?metric=numFiles&limit=5",
                _top_k(f"SELECT \"user\", count(*) {f} GROUP BY 1", 5)),
    ]
    out["discovery"] += [
        Request("discovery", "/info", _fields(
            "SELECT sum(CASE WHEN type='file' THEN 1 ELSE 0 END), "
            "sum(CASE WHEN type='dir' THEN 1 ELSE 0 END), count(*) FROM ns",
            ("numFiles", "numDirs", "numTotal"))),
        Request("discovery", "/endpoints", _listing("filter", "histogram", "dump", "sql")),
        Request("discovery", "/sets", _listing("files", "dirs")),
        Request("discovery", "/histograms", _listing("user", "fileType")),
    ]
    return list(out.values())


def fsimage_requests(con, seed: int, n_dirs: int, per_dir: int) -> list[list[Request]]:
    """rest_fsimage's mix over the oivgen closed form (view ``fs``)."""
    rng = np.random.default_rng(seed + 202)
    out = [
        [Request("filter_sum", "/filter?set=files&sum=count", _scalar("SELECT count(*) FROM fs")),
         Request("filter_sum", "/filter?set=files&sum=fileSize", _scalar("SELECT sum(fileSize) FROM fs"))],
        [Request("histogram", "/histogram?set=files&type=user&sum=count",
                 _exact_json("SELECT \"user\", count(*) FROM fs GROUP BY 1"))],
        [], [],
    ]
    for d in rng.choice(n_dirs, size=3, replace=False):
        out[2].append(Request(
            "content_summary", f"/contentSummary?path=/dir{d}",
            _fields(f"SELECT count(*), 1, sum(fileSize) FROM fs WHERE path LIKE '/dir{d}/%'",
                    ("fileCount", "dirCount", "length"))))
        j = int(rng.integers(per_dir))
        out[3].append(Request(
            "dump", f"/dump?path=/dir{d}/f{d}_{j}",
            _fields(f"SELECT id, fileSize, \"user\", modTime FROM fs WHERE path = '/dir{d}/f{d}_{j}'",
                    ("id", "fileSize", "user", "modTime"))))
    return out


def cycles(variants: list[list[Request]], passes: int) -> list[list[Request]]:
    """Pass p sends one request of every class, variant p of each."""
    return [[v[p % len(v)] for v in variants if v] for p in range(passes)]


# ---------------------------------------------------------------- server
class Server:
    """The server process: start, wait for its port, send commands."""

    def __init__(self, source: str, fmt: str, sweep_dir: str | None, trace: bool, log: str):
        cmd = [sys.executable, os.path.join(BENCH_DIR, "server_main.py"),
               "--source", source, "--format", fmt]
        if sweep_dir:
            cmd += ["--sweep-dir", sweep_dir]
        if trace:
            cmd.append("--trace")
        self._log = open(log, "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self._log, text=True, cwd=os.path.dirname(BENCH_DIR))
        line = self.proc.stdout.readline()
        if not line:
            self.stop()
            raise RuntimeError(f"server exited before serving; see {log}")
        ready = json.loads(line)
        self.port, self.session_ready = ready["port"], ready["session_ready"]

    def command(self, text: str, wait: bool = False) -> None:
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()
        if wait:
            self.proc.stdout.readline()

    def stop(self) -> None:
        try:
            if self.proc.stdin and not self.proc.stdin.closed:
                self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        finally:
            self._log.close()


def send(conn: http.client.HTTPConnection, req: Request, req_id: str,
         traced: bool = False) -> tuple[int, str]:
    headers = {"X-Perfbench-Req": req_id, "X-Perfbench-Trace": "1" if traced else "0"}
    conn.request("GET", req.url, headers=headers)
    resp = conn.getresponse()
    return resp.status, resp.read().decode("utf-8")


@dataclass
class Sample:
    req: Request
    req_id: str
    start: float
    end: float
    status: int
    body: str
    traced: bool


def closed_loop(port: int, passes: list[list[Request]], clients: int,
                seconds: float, trace: bool = False,
                once: bool = False) -> tuple[list[Sample], float]:
    """``clients`` threads, each sending its next request when the last
    returns, until ``seconds`` have passed. The passes are laid end to
    end and client i starts i/clients of the way along, so every window
    sends the classes in equal shares. Returns the samples and the
    window's wall time.

    With ``trace``, every other request of a client is traced, and the
    parity flips each pass: each class is traced in every other pass, and
    warm-up or drift falls on traced and untraced requests alike.
    With ``once``, the clients share out the sequence and send it once."""
    sequence = [req for cycle in passes for req in cycle]
    per_pass = len(passes[0])
    samples: list[Sample] = []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds
    errors: list[BaseException] = []

    def client(i: int) -> None:
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
            pos = i * len(sequence) // clients
            end = (i + 1) * len(sequence) // clients if once else None
            sent = 0
            while pos != end and (once or time.perf_counter() < deadline):
                req = sequence[pos % len(sequence)]
                pos += 1
                rid = uuid.uuid4().hex
                traced = trace and (sent + sent // per_pass) % 2 == 1
                t0 = time.perf_counter()
                status, body = send(conn, req, rid, traced)
                t1 = time.perf_counter()
                sent += 1
                with lock:
                    samples.append(Sample(req, rid, t0, t1, status, body, traced))
            conn.close()
        except BaseException as exc:  # noqa: BLE001 — surfaced after join
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return samples, max((s.end for s in samples), default=deadline) - start


def verify(samples: list[Sample], con) -> int:
    """Check every answer against its oracle; returns the failed count.
    Each distinct URL's oracle runs once."""
    verdict: dict[tuple[str, str], bool] = {}
    failed = 0
    for s in samples:
        key = (s.req.url, s.body)
        if key not in verdict:
            verdict[key] = s.status == 200 and bool(s.req.check(s.body, con))
        failed += not verdict[key]
    return failed


def latency_metrics(samples: list[Sample], window_s: float) -> dict:
    """``batch_s`` is one pass, one request of every class, priced at
    each class's median latency: a client sends too few requests in one
    window to time whole passes."""
    lat = [(s.end - s.start) * 1000 for s in samples]
    classes = {s.req.cls for s in samples}
    return {
        "latency_p50_ms": median(lat),
        "latency_p90_ms": percentile(lat, 90),
        "throughput_rps": len(samples) / window_s,
        "batch_s": sum(median([s.end - s.start for s in samples if s.req.cls == c]) for c in classes),
        "samples": len(samples),
    }


# --------------------------------------------------------------- run
def run(source: str, fmt: str, variants: list[list[Request]], con,
        clients: int, seconds: float, trace: bool, sweep: bool, tag: str) -> dict:
    """Set up the server, warm it, run the closed loop, verify."""
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    sweep_dir = os.path.join(WORK, "sweep", tag) if sweep else None
    if sweep_dir:
        shutil.rmtree(sweep_dir, ignore_errors=True)
    passes = cycles(variants, max(len(v) for v in variants))
    first = variants[0][0]

    t0 = time.perf_counter()
    server = Server(source, fmt, sweep_dir, trace, os.path.join(WORK, "logs", f"{tag}.server.log"))
    try:
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=300)
        status, body = send(conn, first, "setup")
        t_answer, wall_answer = time.perf_counter(), time.time()
        if status != 200 or not first.check(body, con):
            raise CorrectnessError(f"first answer wrong: {first.url} -> {status} {body[:200]}")
        setup_s = t_answer - t0
        freshness_ms = (wall_answer - server.session_ready) * 1000
        conn.close()
        # warm-up, untimed but checked: every class once, spread over the clients
        warm, _ = closed_loop(server.port, [passes[0]], clients, 0.0, once=True)
        t_warm = time.perf_counter()

        info: dict = {"clients": clients, "setup_s": setup_s}
        everything, window = closed_loop(server.port, passes, clients, seconds, trace)
        t_window = time.perf_counter()
        samples = [s for s in everything if not s.traced]
        traced_samples = [s for s in everything if s.traced]
        if trace:
            spans_path = os.path.join(WORK, "logs", f"{tag}.spans.json")
            server.command(f"dump {spans_path}", wait=True)
    finally:
        server.stop()
        if sweep_dir:
            shutil.rmtree(sweep_dir, ignore_errors=True)

    t_stopped = time.perf_counter()
    failed = verify(warm + everything, con)
    info["phase_s"] = {"setup": setup_s, "warm_up": t_warm - t_answer, "window": t_window - t_warm,
                       "stop": t_stopped - t_window, "verify": time.perf_counter() - t_stopped}
    measured = latency_metrics(samples, window)
    info["samples"] = measured["samples"]
    info["latency_ms"] = [(s.req.cls, round((s.end - s.start) * 1000, 1)) for s in samples]
    info["p90_samples_beyond"] = p90_tail(len(samples))
    out = {
        "attempted": len(warm) + len(everything),
        "failed": failed,
        "e2e": {
            "setup_s": setup_s,
            "freshness_p50_ms": freshness_ms,
            **{k: measured[k] for k in ("latency_p50_ms", "latency_p90_ms", "throughput_rps", "batch_s")},
        },
        "info": info,
    }
    if trace:
        out["layers"] = _trace_layers(spans_path, samples, traced_samples)
    return out


def _trace_layers(spans_path: str, untraced: list[Sample], traced: list[Sample]) -> dict:
    import layers

    with open(spans_path) as fh:
        spans = json.load(fh)
    with open(spans_path + ".jobs") as fh:
        extra = json.load(fh)
    client_ms = {s.req_id: (s.end - s.start) * 1000 for s in traced}
    values = layers.request_layers(spans, extra["jobs"], client_ms)
    values.update(layers.setup_layers(spans))
    values["spark.storage_mb"] = extra["storage_mb"]
    for cls in {s.req.cls for s in untraced}:
        values[f"rest.{cls}.p50_ms"] = median([(s.end - s.start) * 1000 for s in untraced if s.req.cls == cls])
    values["trace.overhead_pct"] = layers.overhead_pct(
        [(s.req.cls, s.end - s.start, s.traced) for s in untraced + traced])
    return values
