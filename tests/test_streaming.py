"""Freshness tests — the testUpdateSeen shape (updates visible in the next
query) for both the snapshot-refresh path and the change-log tailer."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nnanalytics_spark.core.ir import Query
from nnanalytics_spark.inode import fixture
from nnanalytics_spark.inode.engine import INodeEngine
from nnanalytics_spark.streaming import refresh, stateful

NOW = fixture.NOW_MS


def _count_files(df) -> int:
    eng = INodeEngine(df)
    return eng.filter_sum(Query(set="files", sums=["count"], now_ms=NOW)).collect()[0][0]


def _new_files_pdf(start_id: int, n: int) -> pd.DataFrame:
    base = fixture.generate_pandas(levels=1, dirs_per_level=1, files_per_dir=n)
    newf = base[base.type == "file"].copy()
    newf["id"] = range(start_id, start_id + len(newf))
    newf["path"] = [f"/fresh/file{i}" for i in range(len(newf))]
    newf["modTime"] = NOW
    return newf


def test_snapshot_refresh_sees_updates(spark, tmp_path):
    table_dir = str(tmp_path / "inodes")
    pdf = fixture.generate_pandas(levels=1, dirs_per_level=2, files_per_dir=10)
    spark.createDataFrame(pdf, schema=fixture.SCHEMA).write.parquet(table_dir)

    snap = refresh.SnapshotTable(spark, lambda s: s.read.parquet(table_dir))
    before = _count_files(snap.df)

    add = _new_files_pdf(start_id=100_000, n=7)
    spark.createDataFrame(add, schema=fixture.SCHEMA).write.mode("append").parquet(table_dir)

    assert _count_files(snap.df) == before  # stale until refresh: snapshot isolation
    snap.refresh()
    assert _count_files(snap.df) == before + 7
    assert snap.version == 1


def test_concurrent_refresh_query_isolation(spark, tmp_path):
    """Refresh-while-querying (the reference serializes queries against
    edit-log application with a lock, NamenodeAnalyticsMethods.java:
    1591-1613; testUpdateSeen is the sequential shape). Our snapshot
    model gives strictly stronger semantics: a query whose plan was
    acquired BEFORE refresh() keeps old-snapshot results even when it
    EXECUTES after the refresh completed, and a plan acquired after the
    refresh sees the new counts. Thread interleaving is forced with
    barriers — no sleeps, fully deterministic."""
    import threading

    table_dir = str(tmp_path / "inodes")
    pdf = fixture.generate_pandas(levels=1, dirs_per_level=2, files_per_dir=10)
    spark.createDataFrame(pdf, schema=fixture.SCHEMA).write.parquet(table_dir)

    snap = refresh.SnapshotTable(spark, lambda s: s.read.parquet(table_dir))
    before = _count_files(snap.df)

    n_readers = 4
    acquired = threading.Barrier(n_readers + 1)  # all plans grabbed pre-refresh
    refreshed = threading.Barrier(n_readers + 1)  # refresh finished
    results: list[int] = []
    errors: list[Exception] = []

    def reader() -> None:
        try:
            plan = snap.df  # acquire plan BEFORE the refresh
            acquired.wait()
            refreshed.wait()  # ...but execute it AFTER the refresh
            results.append(_count_files(plan))
        except Exception as exc:  # surface into the main thread
            errors.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(n_readers)]
    for t in threads:
        t.start()
    acquired.wait()
    # mutate the table and refresh while the readers hold old plans
    add = _new_files_pdf(start_id=300_000, n=7)
    spark.createDataFrame(add, schema=fixture.SCHEMA).write.mode("append").parquet(table_dir)
    snap.refresh()
    refreshed.wait()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    # pre-refresh plans: old snapshot, even though they ran post-refresh
    assert results == [before] * n_readers
    # post-refresh plans: new counts, every reader thread agrees
    fresh = [_count_files(snap.df) for _ in range(n_readers)]
    assert fresh == [before + 7] * n_readers
    assert snap.version == 1


def test_changelog_tailer_update_seen(spark, tmp_path):
    """Port of testUpdateSeen (TestWithMiniClusterBase.java:207-228): write
    a batch of new files to the change log; the same query returns a
    strictly larger count afterwards."""
    log_dir = str(tmp_path / "changelog")
    base_pdf = fixture.generate_pandas(levels=1, dirs_per_level=2, files_per_dir=10)
    base = spark.createDataFrame(base_pdf, schema=fixture.SCHEMA)

    from pyspark.sql import types as T

    log_schema = T.StructType(fixture.SCHEMA.fields + [T.StructField("op", T.StringType(), False)])
    # seed an empty log dir so the stream starts cleanly
    spark.createDataFrame([], log_schema).write.mode("overwrite").parquet(log_dir)

    tailer = refresh.ChangeLogTailer(spark, base, log_dir, log_schema)
    tailer.start()
    try:
        tailer.process_all()
        before = _count_files(tailer.current)

        add = _new_files_pdf(start_id=200_000, n=5)
        add["op"] = "add"
        spark.createDataFrame(add, schema=log_schema).write.mode("append").parquet(log_dir)
        tailer.process_all()
        assert _count_files(tailer.current) == before + 5

        # delete two of them via the log
        dele = add.head(2).copy()
        dele["op"] = "delete"
        spark.createDataFrame(dele, schema=log_schema).write.mode("append").parquet(log_dir)
        tailer.process_all()
        assert _count_files(tailer.current) == before + 3
    finally:
        tailer.stop()


def test_changelog_tailer_fold_keeps_partition_count(spark, tmp_path):
    """Each fold unions the batch's adds onto the snapshot; the tailer
    coalesces back to the base's partition count, so five folds leave
    the snapshot as wide as the base, with apply_changelog_batch's rows."""
    from pyspark.sql import types as T

    log_dir = str(tmp_path / "changelog")
    log_schema = T.StructType(fixture.SCHEMA.fields + [T.StructField("op", T.StringType(), False)])
    spark.createDataFrame([], log_schema).write.parquet(log_dir)
    base_pdf = fixture.generate_pandas(levels=1, dirs_per_level=2, files_per_dir=10)
    base = spark.createDataFrame(base_pdf, schema=fixture.SCHEMA).repartition(3)
    tailer = refresh.ChangeLogTailer(spark, base, log_dir, log_schema)
    expected = base
    for k in range(5):
        add = _new_files_pdf(start_id=300_000 + 10 * k, n=4)
        add["op"] = "add"
        dele = base_pdf[base_pdf.type == "file"].iloc[[k]].copy()
        dele["op"] = "delete"
        batch = spark.createDataFrame(pd.concat([add, dele]), schema=log_schema)
        tailer._apply(batch, k)
        expected = refresh.apply_changelog_batch(expected, batch)
        assert tailer.current.rdd.getNumPartitions() == 3
    assert sorted(tailer.current.collect()) == sorted(expected.collect())
    assert _count_files(tailer.current) == (base_pdf.type == "file").sum() + 5 * 4 - 5


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == batch lag+cumsum
    sessionization on the same events, across micro-batches with
    out-of-order arrival — including a batch-2 event that BRIDGES two
    batch-1 sessions (the case plain append-only counters get wrong)."""
    from pyspark.sql import Window as W

    from nnanalytics_spark.streaming.stateful import streaming_sessionization

    MIN = 60 * 1000
    batch1 = [
        # user 1: sessions {0,5} and {60,65} — 55min apart, two sessions
        (1, 0), (1, 5 * MIN), (1, 60 * MIN), (1, 65 * MIN),
        # user 2: one session
        (2, 10 * MIN), (2, 20 * MIN),
    ]
    batch2 = [
        # user 1: the 35min event BRIDGES both batch-1 sessions
        # (35-5=30 ≤ gap and 60-35=25 ≤ gap → they collapse to ONE)
        (1, 35 * MIN),
        # user 3 appears only in batch 2: two sessions. Times sit INSIDE
        # the 1h watermark horizon of batch 1's max (65min): an earlier
        # draft used ts=0 here and the stream correctly DROPPED it as
        # late data — equivalence holds within the horizon by design.
        (3, 30 * MIN), (3, 120 * MIN),
    ]
    src = str(tmp_path / "events_stream")
    schema = "user_id long, ts_ms long"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_sessionization(stream)
    # epoch-tagged collection: update semantics say the latest emission
    # per user wins, so key on (max epoch) explicitly instead of relying
    # on sink row order
    emissions: list[tuple[int, int, int]] = []

    def sink(batch_df, epoch_id):
        for r in batch_df.collect():
            emissions.append((epoch_id, r["user_id"], r["n_sessions"]))

    q = out.writeStream.outputMode("update").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got: dict[int, int] = {}
    for _epoch, user, n in sorted(emissions):
        got[user] = n

    # batch twin on the union of both batches
    all_events = spark.createDataFrame(batch1 + batch2, schema)
    w = W.partitionBy("user_id").orderBy("ts_ms")
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w)
    want = {
        r["user_id"]: r["n_sessions"]
        for r in all_events.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 30 * MIN), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"))
        .collect()
    }
    assert got == want


def test_streaming_windowed_counts(spark, tmp_path):
    """Windowed streaming agg over a parquet-backed stream reaches the same
    totals as the batch query."""
    src = str(tmp_path / "events")
    rows = [(i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), "click", 1.0) for i in range(30)]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type", "value"])
    spark.createDataFrame(pdf).write.parquet(src)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).parquet(src)
    agg = refresh.windowed_event_counts(stream, "5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT sum(cnt) FROM win_counts").collect()[0][0]
        assert got == 30
        n_windows = spark.sql("SELECT count(*) FROM win_counts").collect()[0][0]
        assert n_windows == 6  # 30 minutes / 5-minute tumbling windows
    finally:
        q.stop()


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Append mode + watermark end-to-end across four microbatches:
    on-time rows, two watermark-advancing events (the second triggers
    eviction/emission of the first window), then a late row inside the
    already-finalized window. The window must emit exactly once with the
    on-time count — the late arrival is dropped, never re-emitted.
    (A late row landing in the SAME batch as the eviction may still merge
    — Spark's watermark is a best-effort bound — which is why the late
    row here arrives only after finalization.)"""
    import time as _time

    src = tmp_path / "late_events"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 10:00:00")
    cols = ["event_id", "ts", "event_type", "value"]
    batches = [
        pd.DataFrame(
            [(i, base + pd.Timedelta(minutes=i), "click", 1.0) for i in range(5)],
            columns=cols,
        ),
        pd.DataFrame([(99, base + pd.Timedelta(minutes=20), "click", 1.0)], columns=cols),
        pd.DataFrame([(98, base + pd.Timedelta(minutes=25), "click", 1.0)], columns=cols),
        pd.DataFrame([(100, base + pd.Timedelta(minutes=1), "click", 1.0)], columns=cols),
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b).coalesce(1).write.parquet(str(src / f"b{i}"))
        _time.sleep(1.1)  # file-source batch order is by mod time

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    agg = refresh.windowed_event_counts(stream, "5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_win")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r["window"].start.minute, r["cnt"])
            for r in spark.sql("SELECT window, cnt FROM late_win").collect()
        }
        # window 10:00-10:05 finalized once with the 5 on-time rows; the
        # late row neither bumps the count nor re-emits, and the still-open
        # 10:20/10:25 windows are absent
        assert rows == {(0, 5)}, rows
    finally:
        q.stop()


def test_streaming_dedup_drops_rearrivals(spark, tmp_path):
    """Two micro-batches: batch 2 re-sends fingerprint 'a' within the
    horizon → only the first arrival survives; a genuinely new key in
    batch 2 passes through."""
    import json

    from nnanalytics_spark.streaming.refresh import streaming_dedup

    src = tmp_path / "docs_in"
    src.mkdir()
    schema = "fingerprint string, ts timestamp, text string"

    def write_batch(name, rows):
        p = src / name
        p.write_text("\n".join(json.dumps(r) for r in rows))

    write_batch("b1.json", [
        {"fingerprint": "a", "ts": "2025-01-01 00:00:00", "text": "first a"},
        {"fingerprint": "b", "ts": "2025-01-01 00:00:10", "text": "first b"},
    ])
    stream = spark.readStream.schema(schema).json(str(src))
    out_rows = []
    q = (
        streaming_dedup(stream, key="fingerprint")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _e: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch("b2.json", [
            {"fingerprint": "a", "ts": "2025-01-01 00:01:00", "text": "dup a"},
            {"fingerprint": "c", "ts": "2025-01-01 00:01:10", "text": "first c"},
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["fingerprint"]: r["text"] for r in out_rows}
    assert got == {"a": "first a", "b": "first b", "c": "first c"}


def test_watermark_window_parity_drops_and_matches_batch(spark):
    """The driver-contract parity query: append-mode watermarked windows
    over three deterministic segments must (a) actually DROP the replayed
    old rows via the late-event watermark and (b) reproduce the batch
    tumbling-window counts restricted to finalized windows."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = {
        (r["win"], r["event_type"]): r["cnt"]
        for r in entry.q_watermark_window_parity(spark, sf).collect()
    }
    assert entry.q_watermark_window_parity.last_dropped > 0

    ev = entry._events(spark, sf)
    max_ts = ev.agg(F.max("ts_ms")).collect()[0][0]
    expected = {
        (r["win"], r["event_type"]): r["cnt"]
        for r in (
            ev.withColumn("win", F.expr("ts_ms div 300000"))
            .filter((F.col("win") + 1) * 300000 <= max_ts - 601_000)
            .groupBy("win", "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_forward_fill_exact_under_reordering(spark, tmp_path):
    """Buffered streaming LOCF == batch forward_fill even when an
    OBSERVATION arrives in a later micro-batch than the gap rows it must
    fill — the case an emit-immediately streaming fill gets wrong.
    Sentinel batches advance the watermark so every key flushes."""
    from nnanalytics_spark.pipeline.behavior import forward_fill
    from nnanalytics_spark.streaming.stateful import streaming_forward_fill

    MIN = 60 * 1000
    batch1 = [
        # user 1: gap rows at 10/20min arrive FIRST...
        (1, 11, 10 * MIN, None), (1, 12, 20 * MIN, None),
        (1, 13, 30 * MIN, 7.0),
    ]
    batch2 = [
        # ...then the 5min observation lands late (within the horizon):
        # rows 11 and 12 must fill with 3.0, not stay NULL
        (1, 10, 5 * MIN, 3.0),
        (2, 20, 25 * MIN, None),  # user 2: no observation ever -> NULL
    ]
    sentinel1 = [(-1, 0, 49 * 3600 * 1000, None)]
    sentinel2 = [(-2, 1, 50 * 3600 * 1000, None)]
    src = str(tmp_path / "locf_stream")
    schema = "user_id long, event_id long, ts_ms long, value double"
    for i, b in enumerate((batch1, batch2, sentinel1, sentinel2)):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_forward_fill(stream)
    rows: list = []

    def sink(batch_df, _epoch):
        rows.extend(batch_df.collect())

    q = out.writeStream.outputMode("append").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_id"]: r["value_filled"] for r in rows if r["user_id"] > 0}
    batch_df = spark.createDataFrame(batch1 + batch2, schema).withColumn(
        "ts_us", F.col("ts_ms") * 1000
    )
    want = {r["event_id"]: r["value_filled"] for r in forward_fill(batch_df).collect()}
    assert got == want
    assert got[11] == 3.0 and got[12] == 3.0 and got[13] == 7.0
    assert got[20] is None


@pytest.mark.parametrize(
    "op, cols, want",
    [
        pytest.param(
            lambda s: stateful.streaming_ewma(s, alpha=0.5),
            ("ewma", "prev_s"),
            # event-time order 10, 11, 12: s = 1.0, then 0.5*9+0.5*1 =
            # 5.0, then 0.5*5+0.5*5 = 5.0; prev_s trails by one step. The
            # first observation has no prior smoothed value: the NaN the
            # fold emits crosses Arrow as SQL NULL (matching the oracle)
            {10: (1.0, None), 11: (5.0, 1.0), 12: (5.0, 5.0)},
            id="ewma",
        ),
        pytest.param(
            lambda s: stateful.streaming_holt(s, alpha=0.5, beta=0.5),
            ("level", "trend"),
            # event-time order: l = 1, b = 0; then l = 0.5*9+0.5*(1+0) =
            # 5, b = 0.5*(5-1)+0.5*0 = 2; then l = 0.5*5+0.5*(5+2) = 6,
            # b = 0.5*(6-5)+0.5*2 = 1.5
            {10: (1.0, 0.0), 11: (5.0, 2.0), 12: (6.0, 1.5)},
            id="holt",
        ),
    ],
)
def test_streaming_smoothing_exact_under_reordering(spark, tmp_path, op, cols, want):
    """Buffered streaming EWMA and Holt recurse in EVENT-TIME order even
    when an early observation arrives in a LATER micro-batch — an
    emit-immediately recursion would have smoothed 9.0 before seeing
    1.0."""
    MIN = 60 * 1000
    batch1 = [(1, 11, 10 * MIN, 9.0), (1, 12, 20 * MIN, 5.0)]
    batch2 = [(1, 10, 5 * MIN, 1.0)]  # lands late, sorts FIRST
    sentinel1 = [(-1, 0, 49 * 3600 * 1000, 0.0)]
    sentinel2 = [(-2, 1, 50 * 3600 * 1000, 0.0)]
    src = str(tmp_path / "smoothing_stream")
    schema = "user_id long, event_id long, ts_ms long, value double"
    for b in (batch1, batch2, sentinel1, sentinel2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = op(stream)
    rows: list = []

    def sink(batch_df, _epoch):
        rows.extend(batch_df.collect())

    q = out.writeStream.outputMode("append").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_id"]: tuple(r[c] for c in cols) for r in rows if r["user_id"] > 0}
    assert got == want
