"""ingest_tail: change-log segments land beside a reader, in-process.

The base namespace sits behind ``streaming.refresh.ChangeLogTailer``.
A writer thread lands one parquet segment per cadence tick (open loop:
each segment is due at a fixed time, and its lateness is recorded) by
atomic rename into the change-log directory. One closed-loop reader runs
``core.url.run_url(INodeEngine(tailer.current), …)`` and renders the
answer. Freshness is read from outside the program: the streaming
query's progress (trigger start + duration) and the file-source log of
its checkpoint, which names the files each micro-batch folded.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import threading
import time
from datetime import datetime

from common import NOW_MS, WORK, CorrectnessError, median, percentile, stop_spark

READER_URLS = (
    "/filter?set=files&sum=count",
    "/histogram?set=files&type=user&sum=count",
)


def _batch_of(ckpt: str) -> dict[str, int]:
    """file name → batchId, from the file source's metadata log (plain
    ``N`` entries and the periodic ``N.compact`` roll-ups)."""
    out: dict[str, int] = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log_dir) if os.path.isdir(log_dir) else ():
        if name.split(".")[0].isdigit() and name.endswith((".compact", *"0123456789")):
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh.read().split("\n")[1:]:
                    if line.strip():
                        entry = json.loads(line)
                        out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _epoch_s(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def run(seed: int, seconds: float, trace: bool, cfg: dict) -> tuple[dict, dict]:
    import inputs
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_dir, sizes = inputs.namespace(cfg["levels"], cfg["dirs"], cfg["files"])
    n_segments = int(seconds / cfg["cadence_s"]) + 3  # segment 0 is the warm-up
    segments, totals = inputs.changelog_segments(seed, base_dir, n_segments, cfg["adds"], cfg["deletes"])
    run_dir = os.path.join(WORK, "ingest", f"s{seed}-t{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    staging, changelog, ckpt_root = (os.path.join(run_dir, d) for d in ("staging", "changelog", "ckpt"))
    for d in (staging, changelog, ckpt_root):
        os.makedirs(d)
    for k, seg in enumerate(segments):
        pq.write_table(pa.Table.from_pandas(seg, preserve_index=False),
                       os.path.join(staging, f"seg-{k:05d}.parquet"))
    sizes = {**sizes, "segments_prepared": n_segments, "segment_rows": len(segments[0])}

    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.enabled = True
        _install(tracer)

    # ---- set-up: session → base → tailer → first correct answer
    t0 = time.perf_counter()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nnanalytics_spark import session
    from nnanalytics_spark.core import url as urlmod
    from nnanalytics_spark.inode import render
    from nnanalytics_spark.inode.engine import INodeEngine
    from nnanalytics_spark.inode.fixture import SCHEMA
    from nnanalytics_spark.streaming.refresh import ChangeLogTailer

    spark = session.get_spark("nnanalytics")
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt_root)
    with tracer.span("sources.load") if tracer else contextlib.nullcontext():
        base = spark.read.parquet(base_dir)
    tailer = ChangeLogTailer(spark, base, changelog, T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())]))
    query = tailer.start()
    sc = spark.sparkContext

    def read(url: str, req: str | None = None, traced: bool = False) -> str:
        if tracer:
            tracer.set_request(req, on=traced if req else None)
            if traced:
                sc.setJobGroup(req, "perfbench reader")
        df = urlmod.run_url(INodeEngine(tailer.current), url, now_ms=NOW_MS)
        if url.startswith("/filter"):
            return str(df.collect()[0][0])
        return render.to_json(df)

    if read(READER_URLS[0]) != str(totals["files"]):
        raise CorrectnessError("first reader answer differs from the base file count")
    setup_s = time.perf_counter() - t0
    # warm-up, untimed: one segment folded before the window, so the
    # window's folds run on a warm streaming plan
    warm = time.time()
    os.rename(os.path.join(staging, "seg-00000.parquet"), os.path.join(changelog, "seg-00000.parquet"))
    tailer.process_all()
    for url in READER_URLS:
        read(url)

    # ---- measured window
    landed = [(0, warm, warm)]  # (segment, due wall, landed wall); the window lands 1, 2, …
    stop = threading.Event()
    # Spark fires a processing-time trigger at whole multiples of its
    # interval (1 s here), so landings half-way between two triggers each
    # wait half an interval for their batch: freshness then measures the
    # fold, not where a landing happened to fall
    start_wall = math.floor(time.time()) + 1.5

    def writer() -> None:
        for k in range(1, n_segments):
            due = start_wall + (k - 1) * cfg["cadence_s"]
            if stop.wait(max(0.0, due - time.time())):
                return
            name = f"seg-{k:05d}.parquet"
            os.rename(os.path.join(staging, name), os.path.join(changelog, name))
            landed.append((k, due, time.time()))

    samples: list[tuple[str, float, float, bool, str, str]] = []  # url, start, end, traced, body, req
    jobs: dict[str, dict] = {}
    if tracer:
        tracer.enabled = False
    w = threading.Thread(target=writer, name="changelog-writer")
    begin = time.perf_counter()
    deadline = begin + seconds
    w.start()
    i = 0
    while time.perf_counter() < deadline:
        # a traced run traces every other query, flipping each pass over
        # the URLs, so each URL is traced in every other pass
        traced = bool(tracer) and (i + i // len(READER_URLS)) % 2 == 1
        url = READER_URLS[i % len(READER_URLS)]
        i += 1
        req = f"r{i}"
        ts = time.perf_counter()
        body = read(url, req, traced)
        samples.append((url, ts, time.perf_counter(), traced, body, req))
        if traced:
            from tracing import job_stats

            jobs[req] = job_stats(sc, req)
            sc.setLocalProperty("spark.jobGroup.id", None)
    stop.set()
    w.join()
    if tracer:
        tracer.set_request(None)

    # ---- drain and check: final snapshot == base + adds - deletes
    tailer.process_all()
    final = tailer.current.agg(F.count(F.lit(1)), F.sum("id"), F.sum("fileSize")).collect()[0]
    want = inputs.expected_after(totals, [segments[k] for k, _, _ in landed])
    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    batch_of = _batch_of(_checkpoint_dir(ckpt_root))
    storage = None
    if tracer:
        from tracing import storage_mb

        storage = storage_mb(sc)
    tailer.stop()
    stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    failed = 0
    if (final[0], final[1], final[2]) != (want["count"], want["sum_id"], want["sum_fileSize"]):
        failed += 1
    # every reader answer must equal the snapshot after some prefix of segments
    states = [inputs.expected_after(totals, [segments[k] for k, _, _ in landed[:j]])["files"]
              for j in range(len(landed) + 1)]
    for url, _, _, _, body, _ in samples:
        value = int(body) if url.startswith("/filter") else sum(json.loads(body).values())
        failed += value not in states

    # ---- freshness: segment landed → end of the batch that folded it
    by_batch = {p.batchId: p for p in progress}
    fresh, waits, backlog = [], [], []
    failed += len(landed) < 2  # a window that landed nothing measured no freshness
    ends = {}
    for b, p in by_batch.items():
        fired = _epoch_s(p.timestamp)
        ends[b] = (fired, fired + p.durationMs.get("triggerExecution", 0) / 1000)
    for k, _, t_land in landed[1:]:
        b = batch_of.get(f"seg-{k:05d}.parquet")
        if b is None or b not in ends:
            failed += 1  # landed but never folded
            continue
        fresh.append((ends[b][1] - t_land) * 1000)
        waits.append((ends[b][0] - t_land) * 1000)
    for k, _, t_land in landed[1:]:
        backlog.append(sum(1 for j, _, t in landed[:k]
                           if ends.get(batch_of.get(f"seg-{j:05d}.parquet"), (0, 0))[1] > t_land))

    untraced = [s for s in samples if not s[3]]
    lat = [(s[2] - s[1]) * 1000 for s in untraced]
    pair_s = [(untraced[j + 1][2] - untraced[j][1]) for j in range(0, len(untraced) - 1, 2)]
    folded_rows = sum(len(segments[k]) for k, _, _ in landed)
    out = {
        "attempted": len(samples) + len(landed) + 1,
        "failed": failed,
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_ms": median(lat),
            "latency_p90_ms": percentile(lat, 90),
            "throughput_rps": len(untraced) / (max(s[2] for s in untraced) - begin),
            "freshness_p50_ms": median(fresh),
            "batch_s": median(pair_s) if pair_s else 0.0,
        },
        "info": {
            "setup_s": setup_s,
            "reader_samples": len(untraced),
            "latency_ms": [round(x, 1) for x in lat],
            "freshness_ms": [round(x, 1) for x in fresh],
            "segments_landed": len(landed) - 1,
            "freshness_samples": len(fresh),
            "freshness_p90_ms": percentile(fresh, 90) if fresh else None,
            "batches": len(progress),
            "final": list(final),
            "expected": want,
        },
    }
    if tracer:
        import layers

        traced = [s for s in samples if s[3]]
        client_ms = {s[5]: (s[2] - s[1]) * 1000 for s in traced}
        values = layers.request_layers(tracer.spans, jobs, client_ms)
        values.update(layers.setup_layers(tracer.spans))
        values.update({
            "spark.storage_mb": storage,
            "streaming.fold_ms": median([p.durationMs.get("addBatch", 0) for p in progress]),
            "streaming.trigger_wait_ms": median(waits),
            "streaming.reads_per_input_row": sum(p.numInputRows for p in progress) / folded_rows if folded_rows else 0.0,
            "streaming.backlog_segments": sum(backlog) / len(backlog) if backlog else 0.0,
            "ingest.writer_late_ms": median([(t - due) * 1000 for _, due, t in landed[1:]]),
        })
        values["trace.overhead_pct"] = layers.overhead_pct([(s[0], s[2] - s[1], s[3]) for s in samples])
        out["layers"] = values
    return out, sizes


def _checkpoint_dir(root: str) -> str:
    """The query's checkpoint: the one directory under the session's
    checkpoint root."""
    subdirs = [os.path.join(root, d) for d in os.listdir(root)]
    return subdirs[0] if len(subdirs) == 1 else root


def _install(tracer) -> None:
    from nnanalytics_spark import session
    from nnanalytics_spark.core import url as urlmod
    from nnanalytics_spark.inode import render
    from nnanalytics_spark.inode.engine import INodeEngine
    from pyspark.sql.classic.dataframe import DataFrame

    import tracing

    tracer.wrap(session, "get_spark", "session.start")
    tracer.wrap(urlmod, "parse_url", "core.url.parse")
    for shape in ("filter_sum", "histogram"):
        tracer.wrap(INodeEngine, shape, "inode.engine.build")
    tracer.wrap(render, "to_json", "inode.render")
    tracing.install_spark_tracing(tracer, DataFrame)
