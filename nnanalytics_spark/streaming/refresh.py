"""Freshness: the edit-log-tailing analog (SURVEY §1.2, §7.2-8).

The reference keeps its in-memory namespace current by running the HDFS
EditLogTailer (NameNodeLoader.java:382-390) so every query sees recent
mutations (asserted by testUpdateSeen, TestWithMiniClusterBase.java:207-228).

Spark-native equivalents, in preference order:

1. ``SnapshotTable`` — re-read the inode table on demand.
   Immutable snapshot per refresh: queries get clean point-in-time
   semantics (the reference reads live mutating objects under an optional
   lock — we get strictly better consistency for free).
2. ``start_changelog_stream`` — Structured Streaming over an append-only
   change-log directory (one parquet batch per edit-log segment, rows
   tagged with an ``op`` column: add | delete). foreachBatch applies each
   micro-batch to the current snapshot (upsert = anti-join + union),
   mirroring edit-log tailing observably: a query issued after a batch
   lands sees the new counts.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotTable:
    """Refreshable snapshot of the inode table (simple, exact, cheap:
    parquet metadata makes re-reads incremental in practice)."""

    def __init__(self, spark: SparkSession, load: Callable[[SparkSession], DataFrame]):
        self.spark = spark
        self._load = load
        self._df = load(spark)
        self._version = 0
        self._lock = threading.Lock()

    @property
    def df(self) -> DataFrame:
        with self._lock:
            return self._df

    @property
    def version(self) -> int:
        return self._version

    def refresh(self) -> DataFrame:
        with self._lock:
            self._df = self._load(self.spark)
            self._version += 1
            return self._df


def apply_changelog_batch(current: DataFrame, batch: DataFrame) -> DataFrame:
    """Apply one change-log micro-batch: op='delete' rows remove by id,
    op='add' rows upsert (replace-by-id + union). Anti-join + union is the
    jar-free MERGE INTO; at scale both sides hash-partition on id."""
    adds = batch.filter(F.col("op") == "add").drop("op")
    deletes = batch.filter(F.col("op") == "delete").select("id")
    touched = adds.select("id").union(deletes).distinct()
    return current.join(touched, "id", "left_anti").unionByName(adds)


class ChangeLogTailer:
    """Structured Streaming tailer over an append-only change-log dir.

    Each micro-batch folds into an in-memory current snapshot via
    ``apply_changelog_batch``. The same query over ``current`` before and
    after a new segment lands (with ``process_all()`` between) reproduces
    the reference's testUpdateSeen assertion
    (tests/test_streaming.py::test_changelog_tailer_update_seen).
    """

    def __init__(self, spark: SparkSession, base: DataFrame, changelog_dir: str, schema):
        self.spark = spark
        self.current = base
        self._partitions = max(1, base.rdd.getNumPartitions())
        self._stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 16)
            .parquet(changelog_dir)
        )
        self._query = None

    def _apply(self, batch: DataFrame, _epoch: int) -> None:
        # fold the micro-batch into the snapshot; localCheckpoint truncates
        # the growing logical plan so repeated folds don't re-run history.
        # The union adds the batch's partitions to the snapshot's, so the
        # fold is coalesced (narrow, no shuffle) back to the base's count:
        # otherwise every fold adds a partition, and a task, to each read
        folded = apply_changelog_batch(self.current, batch).coalesce(self._partitions)
        self.current = folded.localCheckpoint(eager=True)

    def start(self):
        self._query = (
            self._stream.writeStream.outputMode("append")
            .foreachBatch(self._apply)
            .trigger(processingTime="1 second")
            .start()
        )
        return self._query

    def process_all(self) -> None:
        self._query.processAllAvailable()

    def stop(self) -> None:
        if self._query:
            self._query.stop()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    horizon: str = "10 minutes",
    with_value: bool = True,
) -> DataFrame:
    """Streaming windowed aggregation with late-data watermarking — the
    standard Structured Streaming shape for the events table (its batch
    equivalence is __spark_entry__.q_windowed_counts).

    Late-drop semantics worth knowing (pinned by
    __spark_entry__.q_watermark_window_parity and tests/test_streaming.py):
    Spark filters late input with the PREVIOUS batch's watermark
    (`watermarkForLateEvents`) while evicting/emitting with the current
    one (`watermarkForEviction`), so a record arriving one batch after
    the watermark passed its window is still accepted; drops begin the
    batch after that. Any replay/backfill reasoning at 100 TB has to use
    the laggier of the two.
    """
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if with_value:
        aggs.append(F.sum("value").alias("total_value"))
    return (
        events_stream.withWatermark("ts", horizon)
        .groupBy(F.window("ts", window), "event_type")
        .agg(*aggs)
    )


def streaming_dedup(
    docs_stream: DataFrame,
    key: str = "fingerprint",
    event_time: str = "ts",
    horizon: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup for continuously-ingested training data:
    emit each content key's first arrival, drop re-arrivals within the
    watermark horizon.

    dropDuplicatesWithinWatermark keeps per-key state only until the
    watermark passes key_seen_time + horizon, so state is bounded by the
    duplicate-arrival window instead of growing with the corpus — the
    property that makes streaming dedup viable at 100 TB/day. Exactness
    holds for duplicates arriving within `horizon` of each other; the
    batch backstop (exact_dedup over the accumulated table) catches the
    stragglers in the periodic sweep.
    """
    return docs_stream.withWatermark(event_time, horizon).dropDuplicatesWithinWatermark(
        [key]
    )


def compact_changelog(
    changelog: DataFrame, key: str = "id", seq: str = "seq", op: str = "op"
) -> DataFrame:
    """Collapse an ordered CDC changelog (Debezium-style rows with a
    per-key monotonic sequence and op in {'upsert','delete'}) to its NET
    effect: the single highest-seq entry per key. ONE max_by hash
    aggregate — no window sort over the log, so a billion-row log
    compacts with a single shuffle on the key. Equal-seq ties (a replayed
    log segment) resolve deterministically upsert-over-delete via the
    (seq, op) ordering struct; 'u' > 'd' makes the lexicographic max pick
    the upsert."""
    payload = F.struct(*[F.col(c) for c in changelog.columns])
    latest = changelog.groupBy(key).agg(
        F.max_by(payload, F.struct(F.col(seq), F.col(op))).alias("net")
    )
    return latest.select([F.col(f"net.{c}").alias(c) for c in changelog.columns])


def apply_compacted_changelog(
    snapshot: DataFrame,
    changelog: DataFrame,
    key: str = "id",
    seq: str = "seq",
    op: str = "op",
) -> DataFrame:
    """Batch MERGE INTO: compact the changelog to net effects, then
    delete-or-replace touched keys and append the upsert payloads —
    anti-join + union, both hash-partitioned on the key (the jar-free
    equivalent of Delta's MERGE, same shape apply_changelog_batch uses
    per micro-batch, generalized to multi-entry-per-key logs)."""
    net = compact_changelog(changelog, key=key, seq=seq, op=op)
    upserts = net.filter(F.col(op) == "upsert").drop(op, seq)
    return snapshot.join(net.select(key), key, "left_anti").unionByName(upserts)
