"""Histogram binning expressions with the reference's exact edges + labels.

Ports (as declarative Column expressions — single CASE chains, fully
codegen'd, no UDFs):
- time buckets      /root/reference .../queries/TimeHistogram.java:65-248
- space-size bucket .../queries/SpaceSizeHistogram.java:44-68
- memory buckets    .../queries/MemorySizeHistogram.java:42-90
- fileType          .../queries/FileTypeHistogram.java:100-222 (3-stage match)
- storageType       .../queries/StorageTypeHistogram.java:32-39 (default
  HDFS BlockStoragePolicySuite id→name mapping, public Hadoop behavior)

Bin-label lists are exported so `order_by_key_order` can zero-fill to the
canonical order (Histograms.java:226-232) — JSON key order is part of the
reference's output contract.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KB = 1024
MB = KB * KB
GB = KB * MB
DAY_MS = 86_400_000

# timeRange → (unit in ms, number of labeled bins, label suffix)
TIME_RANGES = {
    "daily": (DAY_MS, 364, "Days"),
    "weekly": (7 * DAY_MS, 49, "Weeks"),
    "monthly": (30 * DAY_MS, 23, "Months"),
    "yearly": (365 * DAY_MS, 4, "Years"),
}


def time_keys(time_range: str) -> list[str]:
    """Canonical bin labels, e.g. '1 Weeks' .. '49 Weeks', '49 Weeks+'."""
    unit_ms, n, suffix = TIME_RANGES[time_range]
    return [f"{i} {suffix}" for i in range(1, n + 1)] + [f"{n} {suffix}+"]


def time_bucket(ts_col: Column, time_range: str, now_ms: int) -> Column:
    """Bucket `now - ts` into the canonical ranges. First bin is [0, unit]
    inclusive, middle bins (k-1·unit, k·unit], overflow 'N Units+'
    (TimeHistogram.java:106-199). Negative elapsed → NO_MAPPING."""
    unit_ms, n, suffix = TIME_RANGES[time_range]
    elapsed = F.lit(now_ms) - ts_col
    k = F.greatest(F.lit(1), F.ceil(elapsed / F.lit(unit_ms)))
    return (
        F.when(elapsed < 0, F.lit("NO_MAPPING"))
        .when(k > n, F.lit(f"{n} {suffix}+"))
        .otherwise(F.concat(k.cast("string"), F.lit(f" {suffix}")))
    )


SPACE_EDGES = [
    ("0 B", 0),
    ("1 KB", KB),
    ("1 MB", MB),
    ("16 MB", 16 * MB),
    ("64 MB", 64 * MB),
    ("128 MB", 128 * MB),
    ("256 MB", 256 * MB),
    ("512 MB", 512 * MB),
    ("1 GB", GB),
]


def space_bucket(size_col: Column) -> Column:
    """Byte-size buckets (SpaceSizeHistogram.java:44-68): '0 B' = [0,0],
    then (prev, edge] per label, '1 GB+' above."""
    expr = F.when(size_col < 0, F.lit("NO_MAPPING")).when(size_col == 0, F.lit("0 B"))
    for label, edge in SPACE_EDGES[1:]:
        expr = expr.when(size_col <= edge, F.lit(label))
    return expr.otherwise(F.lit("1 GB+"))


MEMORY_EDGES = [
    ("256 B", 256),
    ("512 B", 512),
    ("768 B", 768),
    ("1 KB", KB),
    ("2 KB", 2 * KB),
    ("4 KB", 4 * KB),
    ("8 KB", 8 * KB),
    ("16 KB", 16 * KB),
    ("32 KB", 32 * KB),
    ("64 KB", 64 * KB),
]


def memory_bucket(size_col: Column) -> Column:
    """Memory-estimate buckets (MemorySizeHistogram.java:42-90): first bin
    [1, 256], then (prev, edge], '64 KB+' above."""
    expr = F.when(size_col < 1, F.lit("NO_MAPPING"))
    for label, edge in MEMORY_EDGES:
        expr = expr.when(size_col <= edge, F.lit(label))
    return expr.otherwise(F.lit("64 KB+"))


# Default HDFS block-storage-policy suite (public Hadoop constant ids).
STORAGE_POLICIES = {
    15: "LAZY_PERSIST",
    12: "ALL_SSD",
    10: "ONE_SSD",
    7: "HOT",
    5: "WARM",
    2: "COLD",
    1: "PROVIDED",
}


def storage_type_bucket(policy_id_col: Column) -> Column:
    """Policy id → policy name, else NO_MAPPING
    (AbstractQueryEngine.java:268-277)."""
    expr: Column | None = None
    for pid, name in STORAGE_POLICIES.items():
        clause = (policy_id_col == pid, F.lit(name))
        expr = F.when(*clause) if expr is None else expr.when(*clause)
    return expr.otherwise(F.lit("NO_MAPPING"))


# fileType classifier (FileTypeHistogram.java:100-222). Three match stages
# in strict order: exact name → 6/10-char prefix → last-'.'/'_' suffix.
FILETYPE_EQUALS = {
    ".pig_header": "PIG_HEADER",
    ".pig_schema": "PIG_SCHEMA",
    "_SUCCESS": "_SUCCESS",
    "_DONE": "_DONE",
    "_index": "_INDEX",
    "_masterindex": "_MASTERINDEX",
}
# The reference probes substring(0,6) then substring(0,10) against one map;
# the 6-char probe can only hit the 6-char part-* keys and the 10-char probe
# the 10-char *log* keys, so startswith(key) + the length guard is equivalent.
FILETYPE_STARTSWITH = {
    "part-0": "PART",
    "part_0": "PART",
    "part_r": "PART_R",
    "part-r": "PART_R",
    "part_m": "PART_M",
    "part-m": "PART_M",
    "entitylog-": "ENTITY_LOG",
    "domainlog-": "DOMAIN_LOG",
    "summarylog": "SUMMARY_LOG",
}
FILETYPE_SUFFIX = {
    "_45454": "APP_LOG",
    ".batch": "BATCH",
    ".txt": "TXT",
    ".tsv": "TSV",
    ".bz2": "BZ2",
    ".csv": "CSV",
    ".log": "LOG",
    ".avro": "AVRO",
    ".avsc": "AVSC",
    ".snappy": "SNAPPY",
    ".parquet": "PARQUET",
    ".gz": "GZIP",
    ".tar": "TAR",
    ".json": "JSON",
    ".xml": "XML",
    ".index": "INDEX",
    ".todo": "TODO",
    ".html": "HTML",
    ".js": "JS",
    ".orc": "ORC",
    ".jar": "JAR",
    ".zip": "ZIP",
    ".gzip": "GZIP",
    ".names": "NAMES",
    ".nn": "NN",
    ".gbt": "GBT",
    ".tmp": "TEMP",
    ".temp": "TEMP",
    ".lz4": "LZ4",
    ".lzo": "LZO",
    ".delta": "DELTA",
    ".snapshot": "SNAPSHOT",
    ".sql": "SQL",
    ".dtdone": "DTDONE",
    ".done": "DONE",
    ".jhist": "JHIST",
    ".dat": "DAT",
    ".data": "DATA",
    ".yaml": "YAML",
    ".yml": "YAML",
    ".split": "SPLIT",
    ".splitmetainfo": "SPLITMETAINFO",
    ".mp3": "MP3",
    ".wav": "WAV",
    ".jpg": "JPEG",
    ".jpeg": "JPEG",
    ".png": "PNG",
    ".war": "WAR",
    ".py": "PYTHON",
    ".java": "JAVA",
    ".class": "CLASS",
    ".lock": "LOCK",
    ".pending": "PENDING",
    ".PENDING": "PENDING",
    ".success": "SUCCESS",
    ".SUCCESS": "SUCCESS",
    ".giveup": "GIVEUP",
    ".GIVEUP": "GIVEUP",
    ".inprogress": "INPROGRESS",
    ".INPROGRESS": "INPROGRESS",
}


def _literal_map(pairs: dict[str, str]) -> Column:
    return F.create_map(*[F.lit(x) for kv in pairs.items() for x in kv])


def file_type(name_col: Column) -> Column:
    """Classify a filename exactly like FileTypeHistogram.determineType:
    equals → prefix (len>6 / len>10 guards) → suffix from last '.' then
    last '_'.

    The equals and suffix stages are literal-MAP lookups (element_at
    returns null on miss, coalesce chains the stages), so `name_col` is
    evaluated a handful of times instead of once per category — with a
    computed name expression the old ~130-branch CASE chain re-evaluated
    the input per branch and blew past the codegen method-size limit."""
    prefix_expr: Column | None = None
    for prefix, label in FILETYPE_STARTSWITH.items():
        guard = 6 if len(prefix) <= 6 else 10
        cond = (F.length(name_col) > guard) & name_col.startswith(prefix)
        prefix_expr = (
            F.when(cond, F.lit(label)) if prefix_expr is None else prefix_expr.when(cond, F.lit(label))
        )

    dot_labels = {k[1:]: v for k, v in FILETYPE_SUFFIX.items() if k.startswith(".")}
    under_labels = {k[1:]: v for k, v in FILETYPE_SUFFIX.items() if k.startswith("_")}
    # Suffix from the last '.' first; on a miss the reference re-probes with
    # the suffix from the last '_' (only "_45454" can match it). coalesce
    # gives the same fallthrough: element_at is null on miss.
    return F.coalesce(
        F.element_at(_literal_map(FILETYPE_EQUALS), name_col),
        prefix_expr,
        F.when(
            name_col.contains("."),
            F.element_at(_literal_map(dot_labels), F.substring_index(name_col, ".", -1)),
        ),
        F.when(
            name_col.contains("_"),
            F.element_at(_literal_map(under_labels), F.substring_index(name_col, "_", -1)),
        ),
        F.lit("UNKNOWN"),
    )
