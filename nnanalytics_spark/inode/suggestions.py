"""Precomputed-analytics sweep — the SuggestionsEngine analog (SURVEY §2.9).

The reference runs ~40 canned full-scan queries every 15 minutes and caches
scalars + per-user maps (cache/SuggestionsEngine.java:136-689). Re-expressed
Spark-first, the entire scalar catalog collapses into ONE job over the files
set and one over dirs: every metric is a conditional aggregate over the same
scan (F.sum(F.when(...))), so Spark reads the table once where the reference
iterates it ~40 times. Per-user maps are one groupBy("user") with the same
conditional-aggregate battery.

Metric definitions (exact filter triplets, SuggestionsEngine.java:232-376):
    emptyFiles          fileSize == 0
    tinyFiles           0 < fileSize <= 1024
    smallFiles          1024 < fileSize <= 1048576
    mediumFiles         1048576 < fileSize <= 134217728
    largeFiles          numFiles - (empty+tiny+small+medium)
    emptyDirs           dirNumChildren == 0
    *24h variants       additionally modTime within 24 h
    *1yr variants       additionally accessTime older than 365 d
                        (emptyDirs1yr uses modTime)
    oldFiles1yr/2yr     accessTime older than 1/2 fixed 365-day years
    *Ds variants        diskspaceConsumed instead of count
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KB = 1024
MB = KB * KB
HDFS_BLOCK = 134_217_728
DAY_MS = 86_400_000
YEAR_MS = 365 * DAY_MS

SIZE_CLASSES = {
    "emptyFiles": lambda size: size == 0,
    "tinyFiles": lambda size: (size > 0) & (size <= KB),
    "smallFiles": lambda size: (size > KB) & (size <= MB),
    "mediumFiles": lambda size: (size > MB) & (size <= HDFS_BLOCK),
    "largeFiles": lambda size: size > HDFS_BLOCK,
}


def _battery(now_ms: int) -> dict[str, Column]:
    """All file-scalar metrics as conditional aggregates over one scan."""
    size = F.col("fileSize")
    dsc = F.col("fileSize") * F.col("fileReplica")
    mod_24h = F.col("modTime") >= now_ms - 24 * 3_600_000
    acc_1yr = F.col("accessTime") <= now_ms - YEAR_MS
    acc_2yr = F.col("accessTime") <= now_ms - 2 * YEAR_MS

    def count_where(cond) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    def space_where(cond) -> Column:
        return F.sum(F.when(cond, dsc).otherwise(0))

    out: dict[str, Column] = {"numFiles": F.count(F.lit(1))}
    for name, pred in SIZE_CLASSES.items():
        out[name] = count_where(pred(size))
        out[f"{name}Mem"] = space_where(pred(size))
        out[f"{name}24h"] = count_where(pred(size) & mod_24h)
        out[f"{name}24hMem"] = space_where(pred(size) & mod_24h)
        out[f"{name}1yr"] = count_where(pred(size) & acc_1yr)
        out[f"{name}1yrMem"] = space_where(pred(size) & acc_1yr)
    out["oldFiles1yr"] = count_where(acc_1yr)
    out["oldFiles1yrDs"] = space_where(acc_1yr)
    out["oldFiles2yr"] = count_where(acc_2yr)
    out["oldFiles2yrDs"] = space_where(acc_2yr)
    out["totalDiskspace"] = F.sum(dsc)
    return out


def file_scalars(inodes: DataFrame, now_ms: int) -> DataFrame:
    """Every file metric in ONE aggregate over one scan."""
    files = inodes.filter(F.col("type") == "file")
    battery = _battery(now_ms)
    return files.agg(*[expr.alias(name) for name, expr in battery.items()])


def dir_scalars(inodes: DataFrame, now_ms: int) -> DataFrame:
    dirs = inodes.filter(F.col("type") == "dir")
    empty = F.col("dirNumChildren") == 0
    old_mod = F.col("modTime") <= now_ms - YEAR_MS
    return dirs.agg(
        F.count(F.lit(1)).alias("numDirs"),
        F.sum(F.when(empty, 1).otherwise(0)).alias("emptyDirs"),
        F.sum(F.when(empty & (F.col("modTime") >= now_ms - 24 * 3_600_000), 1).otherwise(0)).alias(
            "emptyDirs24h"
        ),
        F.sum(F.when(empty & old_mod, 1).otherwise(0)).alias("emptyDirs1yr"),
    )


def per_user_report(inodes: DataFrame, now_ms: int) -> DataFrame:
    """byUserHistogram of the whole battery — one groupBy, shared scan
    (SuggestionsEngine.java:409-493)."""
    files = inodes.filter(F.col("type") == "file")
    battery = _battery(now_ms)
    return files.groupBy("user").agg(*[expr.alias(name) for name, expr in battery.items()])


def file_age_histogram(inodes: DataFrame, now_ms: int) -> DataFrame:
    """modTime monthly buckets → count + diskspace in one summarizing pass
    (SuggestionsEngine.java:162-189)."""
    from nnanalytics_spark.inode import bins

    files = inodes.filter(F.col("type") == "file")
    key = bins.time_bucket(F.col("modTime"), "monthly", now_ms)
    return files.groupBy(key.alias("age")).agg(
        F.count(F.lit(1)).alias("count"),
        F.sum(F.col("fileSize") * F.col("fileReplica")).alias("diskspaceConsumed"),
    )


def top_directories(inodes: DataFrame, depth: int = 3, k: int = 1000) -> DataFrame:
    """Top-k directories at depth by file count & diskspace
    (SuggestionsEngine.java:287-310)."""
    from nnanalytics_spark.inode.engine import INodeEngine

    files = inodes.filter(F.col("type") == "file")
    key = INodeEngine.parent_dir_at_depth(F.col("path"), depth)
    per_dir = (
        files.groupBy(key.alias("directory"))
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum(F.col("fileSize") * F.col("fileReplica")).alias("diskspaceConsumed"),
        )
        .filter(F.col("directory") != "NO_MAPPING")
    )
    return per_dir.orderBy(F.col("count").desc(), "directory").limit(k)


def quota_report(inodes: DataFrame, threshold_pct: int = 85) -> DataFrame:
    """Per user per quota-dir assigned/used/ratio for ns+ds
    (cache/CachedQuotas.java:76-171)."""
    dirs = inodes.filter(
        (F.col("type") == "dir") & ((F.col("nsQuota") >= 0) | (F.col("dsQuota") >= 0))
    )
    ns_ratio = F.when(
        F.col("nsQuota") > 0, (100 * F.col("nsQuotaUsed") / F.col("nsQuota")).cast("long")
    )
    ds_ratio = F.when(
        F.col("dsQuota") > 0, (100 * F.col("dsQuotaUsed") / F.col("dsQuota")).cast("long")
    )
    return dirs.select(
        "user",
        F.col("path").alias("directory"),
        "nsQuota",
        "nsQuotaUsed",
        ns_ratio.alias("nsQuotaRatioUsed"),
        "dsQuota",
        "dsQuotaUsed",
        ds_ratio.alias("dsQuotaRatioUsed"),
        ((ns_ratio >= threshold_pct) | (ds_ratio >= threshold_pct)).alias("nearLimit"),
    )


def file_type_report(inodes: DataFrame) -> DataFrame:
    """Two-level user × fileType histogram → count & diskspace
    (cache/CachedFileTypes.java:57-84)."""
    from nnanalytics_spark.inode import bins

    files = inodes.filter(F.col("type") == "file")
    return files.groupBy("user", bins.file_type(F.col("name")).alias("fileType")).agg(
        F.count(F.lit(1)).alias("count"),
        F.sum(F.col("fileSize") * F.col("fileReplica")).alias("diskspaceConsumed"),
    )


def users(inodes: DataFrame) -> list[str]:
    """/users endpoint analog: the distinct owner set
    (SuggestionsEngine.java:192-197 collects it driver-side too)."""
    return sorted(r["user"] for r in inodes.select("user").distinct().collect())


def issue_ranking(per_user: DataFrame, metric: str, k: int = 10, top: bool = True) -> DataFrame:
    """/top & /bottom analog: k most/least offending users for one cached
    issue metric (SuggestionsEngine.java:1299-1374) — a sort+slice over the
    per-user report."""
    if metric not in per_user.columns:
        raise ValueError(f"unknown issue metric {metric!r}")
    order = F.col(metric).desc() if top else F.col(metric).asc()
    return per_user.select("user", metric).orderBy(order, "user").limit(k)


class CachedQueryRegistry:
    """Custom cached queries (SuggestionsEngine.java:743-767, 892-991):
    user-registered logical queries re-run on every sweep."""

    def __init__(self) -> None:
        self._queries: dict[str, tuple] = {}

    def register(self, name: str, query, shape: str = "sum") -> None:
        if shape not in ("sum", "histogram"):
            raise ValueError(f"unsupported cached query shape {shape!r}")
        self._queries[name] = (query, shape)

    def unregister(self, name: str) -> None:
        self._queries.pop(name, None)

    def names(self) -> list[str]:
        return sorted(self._queries)

    def refresh(self, engine) -> dict[str, DataFrame]:
        out = {}
        for name, (query, shape) in self._queries.items():
            out[name] = engine.histogram(query) if shape == "histogram" else engine.filter_sum(query)
        return out


def run_sweep(inodes: DataFrame, now_ms: int, output_dir: str | None = None) -> dict[str, DataFrame]:
    """The full periodic sweep: compute every cached report; optionally
    persist each as parquet (the MapDB/HSQL cache analog — a `history`
    append goes to output_dir/history with a sweep timestamp column)."""
    reports = {
        "fileScalars": file_scalars(inodes, now_ms),
        "dirScalars": dir_scalars(inodes, now_ms),
        "perUser": per_user_report(inodes, now_ms),
        "fileAge": file_age_histogram(inodes, now_ms),
        "topDirectories": top_directories(inodes),
        "quotaReport": quota_report(inodes),
        "fileTypeReport": file_type_report(inodes),
    }
    if output_dir:
        for name, df in reports.items():
            df.write.mode("overwrite").parquet(f"{output_dir}/{name}")
        # the history row is the fileScalars row just written, read back
        # rather than aggregated over the namespace a second time
        spark = inodes.sparkSession
        history = spark.read.parquet(f"{output_dir}/fileScalars").withColumn("sweepTs", F.lit(now_ms))
        history.write.mode("append").parquet(f"{output_dir}/history")
        # sweep timestamp marker: time-relative reports (fileAge, the
        # per-age scalars) are only valid near their sweep-time `now`;
        # readers use this to decide staleness. One-row parquet so it
        # works on any Hadoop-visible filesystem, not just local disk.
        from nnanalytics_spark.core.smalldf import local_df

        local_df(spark, [(now_ms,)], "sweepTs long").write.mode(
            "overwrite"
        ).parquet(f"{output_dir}/sweepMeta")
    return reports
