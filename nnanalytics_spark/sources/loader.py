"""Table loaders for fsimage-shaped sources.

The reference ingests an HDFS FSImage checkpoint (NameNodeLoader.java:319-396)
and keeps it fresh by tailing the edit log. The Spark-native equivalents:

- ``read_fsimage_csv``: an `hdfs oiv -p Delimited` export → inode
  DataFrame in the stored-schema layout (fixture.py). This is how a real
  deployment feeds this engine from a production NameNode, no reflection
  into live NameNode memory required.
- ``read_fsimage_xml``: an `hdfs oiv -p XML` export (the more common
  format in practice) → the same stored schema, including absolute-path
  reconstruction from the INodeDirectorySection parent/child edges.
- the RAW binary checkpoint needs no export at all: fsimage.py parses
  the protobuf container directly (the reference's own ingestion path).
- snapshot refresh for freshness lives in streaming/refresh.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_fsimage_csv(spark: SparkSession, path: str, sep: str = "\t") -> DataFrame:
    """Parse a delimited OIV export into the engine's stored inode schema."""
    raw = spark.read.option("header", True).option("sep", sep).csv(path)
    is_dir = F.col("Permission").startswith("d")
    # OIV renders permissions symbolically ("-rw-r--r--"): position 1 is the
    # type flag, then three rwx triplets → POSIX bits
    perm_bits = None
    for i, weight in enumerate([256, 128, 64, 32, 16, 8, 4, 2, 1]):
        bit = F.when(F.substring("Permission", i + 2, 1) != "-", weight).otherwise(0)
        perm_bits = bit if perm_bits is None else (perm_bits + bit)
    return raw.select(
        F.monotonically_increasing_id().alias("id"),
        F.when(is_dir, "dir").otherwise("file").alias("type"),
        F.col("Path").alias("path"),
        F.element_at(F.split(F.col("Path"), "/"), -1).alias("name"),
        F.coalesce(
            F.nullif(F.regexp_extract(F.col("Path"), r"^(.*)/[^/]+$", 1), F.lit("")), F.lit("/")
        ).alias("parent"),
        F.col("UserName").alias("user"),
        F.col("GroupName").alias("group"),
        perm_bits.cast("int").alias("permission"),
        F.unix_millis(F.to_timestamp("AccessTime")).alias("accessTime"),
        F.unix_millis(F.to_timestamp("ModificationTime")).alias("modTime"),
        F.col("FileSize").cast("long").alias("fileSize"),
        F.col("PreferredBlockSize").cast("long").alias("blockSize"),
        F.col("BlocksCount").cast("int").alias("numBlocks"),
        F.col("Replication").cast("int").alias("fileReplica"),
        F.lit(0).alias("storagePolicyId"),
        F.col("NSQUOTA").cast("long").alias("nsQuota"),
        F.col("DSQUOTA").cast("long").alias("dsQuota"),
        F.lit(0).cast("long").alias("nsQuotaUsed"),
        F.lit(0).cast("long").alias("dsQuotaUsed"),
        F.lit(False).alias("isUnderConstruction"),
        F.lit(False).alias("isWithSnapshot"),
        F.lit(False).alias("hasAcl"),
        F.lit(False).alias("hasEcPolicy"),
        F.lit(0).cast("int").alias("dirNumChildren"),
    )


# `hdfs oiv -p XML` element layout (public Hadoop OfflineImageViewer
# PBImageXmlWriter output). Explicit schemas: inference would collapse a
# single repeated element (<child>, <block>) to a scalar.
_XML_INODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("replication", T.IntegerType()),
        T.StructField("mtime", T.LongType()),
        T.StructField("atime", T.LongType()),
        # PBImageXmlWriter historically misspells this element
        # ("perferredBlockSize", HDFS-10410); accept both spellings.
        T.StructField("preferredBlockSize", T.LongType()),
        T.StructField("perferredBlockSize", T.LongType()),
        T.StructField("permission", T.StringType()),
        T.StructField("nsquota", T.LongType()),
        T.StructField("dsquota", T.LongType()),
        T.StructField("storagePolicyId", T.IntegerType()),
        T.StructField(
            "blocks",
            T.StructType(
                [
                    T.StructField(
                        "block",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("id", T.LongType()),
                                    T.StructField("genstamp", T.LongType()),
                                    T.StructField("numBytes", T.LongType()),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)

_XML_DIR_SCHEMA = T.StructType(
    [
        T.StructField("parent", T.LongType()),
        T.StructField("child", T.ArrayType(T.LongType())),
    ]
)


def _symbolic_perm_bits(sym: F.Column) -> F.Column:
    """9-char symbolic permission string → POSIX bits (same contract as
    the delimited reader, minus the type-flag prefix)."""
    bits = None
    for i, weight in enumerate([256, 128, 64, 32, 16, 8, 4, 2, 1]):
        bit = F.when(F.substring(sym, i + 1, 1) != "-", weight).otherwise(0)
        bits = bit if bits is None else (bits + bit)
    return bits.cast("int")


#: HDFS's own path-depth limit (FSDirectory.MAX_PATH_DEPTH): a deeper
#: level can only come from a corrupt or cyclic image.
MAX_PATH_DEPTH = 1000


def resolve_paths(names: DataFrame, edges: DataFrame) -> DataFrame:
    """Rebuild absolute paths from (id, name) + (parent_id, id) edges by a
    root-down level walk. The (id, parent_id, name) node table is
    checkpointed once; level d is ``nodes ⋈ level d-1`` on ``parent_id``,
    checkpointed once. A tree node has one parent, so it is reached in
    exactly one level; the walk stops at the first empty level and
    returns the union of the levels. Roots (no parent edge) map to "/",
    orphans are dropped, and a level past ``MAX_PATH_DEPTH`` raises.
    Shared by the OIV-XML and binary-protobuf fsimage readers — both
    formats carry names + edges, never absolute paths."""
    nodes = names.join(edges, "id", "left").localCheckpoint()
    level = nodes.filter(F.col("parent_id").isNull()).select("id", F.lit("/").alias("path"))
    levels = [level]
    for _ in range(MAX_PATH_DEPTH + 1):
        parents = level.select(
            F.col("id").alias("parent_id"),
            F.when(F.col("path") == "/", "").otherwise(F.col("path")).alias("pp"),
        )
        level = (
            nodes.join(parents, "parent_id")
            .select("id", F.concat("pp", F.lit("/"), "name").alias("path"))
            .localCheckpoint()
        )
        if level.isEmpty():
            return reduce(DataFrame.unionByName, levels)
        levels.append(level)
    raise ValueError(f"namespace deeper than {MAX_PATH_DEPTH} levels: corrupt or cyclic image")


def stored_inodes(decoded: DataFrame) -> DataFrame:
    """The stored-schema tail both image readers share (fixture.SCHEMA).
    ``decoded`` carries id, type ("dir"/"file"), path, the raw name and
    the decoded columns through dsQuota plus hasEcPolicy. The root's
    empty name becomes "/", parent is cut from path, a directory's
    fileSize and numBlocks are null, and the fields no image format
    carries take their defaults."""
    is_dir = F.col("type") == "dir"
    return decoded.select(
        "id",
        "type",
        "path",
        F.coalesce(F.nullif(F.col("name"), F.lit("")), F.lit("/")).alias("name"),
        F.coalesce(
            F.nullif(F.regexp_extract(F.col("path"), r"^(.*)/[^/]+$", 1), F.lit("")),
            F.lit("/"),
        ).alias("parent"),
        "user",
        "group",
        "permission",
        "accessTime",
        "modTime",
        F.when(is_dir, F.lit(None)).otherwise(F.col("fileSize")).alias("fileSize"),
        "blockSize",
        F.when(is_dir, F.lit(None)).otherwise(F.col("numBlocks")).cast("int").alias("numBlocks"),
        "fileReplica",
        "storagePolicyId",
        "nsQuota",
        "dsQuota",
        F.lit(0).cast("long").alias("nsQuotaUsed"),
        F.lit(0).cast("long").alias("dsQuotaUsed"),
        F.lit(False).alias("isUnderConstruction"),
        F.lit(False).alias("isWithSnapshot"),
        F.lit(False).alias("hasAcl"),
        "hasEcPolicy",
        F.lit(0).cast("int").alias("dirNumChildren"),
    )


def read_fsimage_xml(spark: SparkSession, path: str) -> DataFrame:
    """Parse an `hdfs oiv -p XML` export into the stored inode schema.

    The XML carries names + parent/child edges, not absolute paths
    (PBImageXmlWriter: INodeSection then INodeDirectorySection), so paths
    are rebuilt level by level, to any depth HDFS allows (resolve_paths),
    and projected through stored_inodes like the binary reader's. The
    inode scan itself stays columnar/pruned; only (id, parent, name)
    rides the path walk.
    """
    inodes = (
        spark.read.format("xml")
        .option("rowTag", "inode")
        .schema(_XML_INODE_SCHEMA)
        .load(path)
    )
    dirsec = (
        spark.read.format("xml")
        .option("rowTag", "directory")
        .schema(_XML_DIR_SCHEMA)
        .load(path)
    )
    edges = dirsec.select(
        F.col("parent").alias("parent_id"), F.explode("child").alias("id")
    )
    names = inodes.select("id", F.coalesce("name", F.lit("")).alias("name"))
    paths = resolve_paths(names, edges)

    perm_parts = F.split(F.col("permission"), ":")
    blocks = F.coalesce(F.col("blocks.block"), F.array())
    block_bytes = F.coalesce(
        F.aggregate(
            blocks,
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.coalesce(b["numBytes"], F.lit(0)),
        ),
        F.lit(0).cast("long"),
    )
    return stored_inodes(
        inodes.join(paths, "id").select(
            "id",
            F.when(F.col("type") == "DIRECTORY", "dir").otherwise("file").alias("type"),
            "path",
            "name",
            F.element_at(perm_parts, 1).alias("user"),
            F.element_at(perm_parts, 2).alias("group"),
            _symbolic_perm_bits(F.element_at(perm_parts, 3)).alias("permission"),
            F.coalesce("atime", F.lit(0)).alias("accessTime"),
            F.coalesce("mtime", F.lit(0)).alias("modTime"),
            block_bytes.alias("fileSize"),
            F.coalesce("preferredBlockSize", "perferredBlockSize").alias("blockSize"),
            F.size(blocks).alias("numBlocks"),
            F.col("replication").alias("fileReplica"),
            F.coalesce("storagePolicyId", F.lit(0)).alias("storagePolicyId"),
            F.col("nsquota").alias("nsQuota"),
            F.col("dsquota").alias("dsQuota"),
            F.lit(False).alias("hasEcPolicy"),
        )
    )
