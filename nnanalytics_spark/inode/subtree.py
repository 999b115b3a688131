"""Tree-shaped computations: subtree aggregates & ancestor-walk booleans.

The reference computes these by recursing a live in-memory tree
(dirSubTree*: VersionContext.java:125-175; isUnderNs/DsQuota ancestor walk:
AbstractQueryEngine.java:350-375; /contentSummary:
NamenodeAnalyticsMethods.java:2011-2059). A distributed engine can't chase
pointers, so both become **path-prefix joins**:

- ancestor-explode (one shuffle, O(depth) row blowup) for global subtree
  columns — every inode emits its proper-ancestor prefixes, one groupBy
  aggregates the subtree, an equi-join attaches results to dirs. Equi-join
  on the ancestor string hash-partitions cleanly at 100 TB; depth is small
  (HDFS paths are ~10 deep), so the blowup is a constant factor.
- a directly-filtered aggregate for single-subtree queries
  (/contentSummary), which Catalyst turns into a pushed-down
  `path LIKE 'prefix%'` scan — no join at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ancestors_expr(path_col):
    """Array of proper ancestors of a path: '/a/b/c' → ['/', '/a', '/a/b'].

    Built from split()+transform() — pure Catalyst expressions, no UDF.
    """
    parts = F.split(path_col, "/")  # '/a/b/c' → ['', 'a', 'b', 'c']
    n = F.size(parts)
    # i-th non-root ancestor = first i+1 components joined (i = 1 .. n-2);
    # guard the sequence() bounds — Spark generates a DESCENDING sequence
    # when start > stop, so an unguarded (1, n-2) is wrong for shallow paths.
    deeper = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), n - 2)),
        lambda i: F.concat_ws("/", F.slice(parts, 1, i + 1)),
    )
    return (
        F.when(path_col == "/", F.array().cast("array<string>"))
        .when(n <= 2, F.array(F.lit("/")))
        .otherwise(F.concat(F.array(F.lit("/")), deeper))
    )


def with_subtree_aggregates(inodes: DataFrame) -> DataFrame:
    """Attach dirSubTreeSize / dirSubTreeNumFiles / dirSubTreeNumDirs to
    every dir row (files get nulls). Exact, one explode + one shuffle.

    A childless dir never appears as anyone's ancestor, so the left join
    yields NULL for it — but the reference's tree recursion returns 0,
    and a query like ``dirSubTreeNumFiles:eq:0`` (find empty subtrees, a
    flagship use case) must MATCH those rows, not NULL them away. Dir
    rows therefore coalesce the three aggregates to 0; file rows keep
    NULL (the columns are undefined for files, per the validity matrix).
    """
    exploded = inodes.select(
        F.explode(ancestors_expr(F.col("path"))).alias("__anc"),
        F.col("type"),
        F.col("fileSize"),
    )
    per_dir = exploded.groupBy("__anc").agg(
        F.sum(F.when(F.col("type") == "file", F.col("fileSize")).otherwise(0)).alias(
            "dirSubTreeSize"
        ),
        F.sum(F.when(F.col("type") == "file", 1).otherwise(0)).alias("dirSubTreeNumFiles"),
        F.sum(F.when(F.col("type") == "dir", 1).otherwise(0)).alias("dirSubTreeNumDirs"),
    )
    joined = inodes.join(per_dir, inodes["path"] == per_dir["__anc"], "left").drop("__anc")
    is_dir = F.col("type") == "dir"
    return joined.select(
        *[c for c in inodes.columns],
        *[
            F.when(is_dir, F.coalesce(F.col(c), F.lit(0))).otherwise(F.col(c)).alias(c)
            for c in ("dirSubTreeSize", "dirSubTreeNumFiles", "dirSubTreeNumDirs")
        ],
    )


def with_quota_flags(inodes: DataFrame) -> DataFrame:
    """Attach isUnderNsQuota / isUnderDsQuota: any non-root proper ancestor
    has ns/ds quota >= 0 (AbstractQueryEngine.java:350-375; root excluded).

    Implemented as ancestor-explode → semi-join-style aggregate against the
    quota-dir set, shuffling on the ancestor path. The quota-dir side is
    filtered before the join, so at scale it is tiny and AQE will broadcast
    it."""
    quota_dirs = (
        inodes.filter((F.col("type") == "dir") & (F.col("path") != "/"))
        .filter((F.col("nsQuota") >= 0) | (F.col("dsQuota") >= 0))
        .select(
            F.col("path").alias("__qpath"),
            (F.col("nsQuota") >= 0).alias("__ns"),
            (F.col("dsQuota") >= 0).alias("__ds"),
        )
    )
    anc = inodes.select(
        F.col("id").alias("__iid"), F.explode(ancestors_expr(F.col("path"))).alias("__anc")
    )
    flags = (
        anc.join(quota_dirs, anc["__anc"] == quota_dirs["__qpath"], "inner")
        .groupBy("__iid")
        .agg(F.max("__ns").alias("__under_ns"), F.max("__ds").alias("__under_ds"))
    )
    out = inodes.join(flags, inodes["id"] == flags["__iid"], "left")
    return out.withColumn(
        "isUnderNsQuota", F.coalesce(F.col("__under_ns"), F.lit(False))
    ).withColumn("isUnderDsQuota", F.coalesce(F.col("__under_ds"), F.lit(False))).drop(
        "__iid", "__under_ns", "__under_ds"
    )


def registered_directory_stats(inodes: DataFrame, directories: list[str]) -> DataFrame:
    """Per-registered-directory count/diskspace in ONE scan — the
    CachedDirectories.analyze analog (cache/CachedDirectories.java:103-141).

    The reference prunes N per-directory scans down to
    lowest-common-ancestor roots with a prefix tree
    (util/VirtualINodeTree.java:127-156). Here the whole watch list is a
    broadcast prefix join: every inode tests against the (tiny) directory
    list in one pass, one shuffle for the final per-directory aggregate —
    N never multiplies the scan count.
    """
    spark = inodes.sparkSession
    from nnanalytics_spark.core.smalldf import local_df

    dirs = local_df(
        spark, [(d.rstrip("/") or "/",) for d in directories], "directory string"
    )
    files = inodes.filter(F.col("type") == "file").select("path", "fileSize", "fileReplica")
    joined = files.join(
        F.broadcast(dirs),
        F.col("path").startswith(F.concat(F.col("directory"), F.lit("/")))
        | (F.col("directory") == "/"),
    )
    return joined.groupBy("directory").agg(
        F.count(F.lit(1)).alias("count"),
        F.sum(F.col("fileSize") * F.col("fileReplica")).alias("diskspaceConsumed"),
    )


def content_summary_sums() -> list[Column]:
    """The four /contentSummary aggregates; no request parameter changes
    them, so a server builds them once per table."""
    is_file = F.col("type") == "file"
    return [
        F.sum(F.when(is_file, 1).otherwise(0)).alias("fileCount"),
        F.sum(F.when(F.col("type") == "dir", 1).otherwise(0)).alias("dirCount"),
        F.sum(F.when(is_file, F.col("fileSize")).otherwise(0)).alias("length"),
        F.sum(
            F.when(is_file, F.col("fileSize") * F.col("fileReplica")).otherwise(0)
        ).alias("spaceConsumed"),
    ]


def content_summary(
    inodes: DataFrame, path: str, sums: list[Column] | None = None
) -> DataFrame:
    """/contentSummary analog: file/dir/byte counts for one subtree
    (NamenodeAnalyticsMethods.java:2011-2059). A single filtered aggregate —
    the `path LIKE 'p%'` predicate pushes into the Parquet scan. ``sums``
    are prebuilt ``content_summary_sums()``."""
    prefix = path.rstrip("/")
    in_subtree = (F.col("path") == (prefix or "/")) | F.col("path").startswith(prefix + "/")
    return inodes.filter(in_subtree).agg(*(sums or content_summary_sums()))
