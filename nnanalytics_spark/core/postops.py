"""Histogram post-processing: HAVING / top-k / bottom-k / sort / bin order.

Reproduces the post-aggregation pipeline of HistogramInvoker.java:133-185 in
the reference — applied in the same order: bin relabel → conditional removal
(HAVING) → top/bottom slice → sort. All steps are DataFrame ops on the
(small) aggregated result, so they cost nothing at scale: the heavy work
ended at the shuffle-reduced groupBy.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_HAVING_OPS = {
    "eq": "==",
    "notEq": "!=",
    "lt": "<",
    "lte": "<=",
    "gt": ">",
    "gte": ">=",
}


def having_filter(df: DataFrame, value_col: str, conditions: str) -> DataFrame:
    """HAVING over group values — ``op:value`` conditions AND-joined by ';'
    (removeKeysOnConditional, AbstractQueryEngine.java:795-821 + parser
    1086-1104)."""
    for cond in conditions.split(";"):
        op, raw = cond.split(":", 1)
        if op not in _HAVING_OPS:
            raise ValueError(f"unsupported having op: {op}")
        df = df.filter(f"`{value_col}` {_HAVING_OPS[op]} {float(raw)}")
    return df


def having_filter_indexed(df: DataFrame, value_cols: list[str], conditions: str) -> DataFrame:
    """Indexed HAVING for multi-agg histograms — ``idx:op:value``
    (removeKeysOnConditional2, AbstractQueryEngine.java:835-884)."""
    for cond in conditions.split(";"):
        idx, op, raw = cond.split(":", 2)
        df = having_filter(df, value_cols[int(idx)], f"{op}:{raw}")
    return df


def slice_top(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """Top-k groups by value (Histograms.java:193-205)."""
    return df.orderBy(F.col(value_col).desc()).limit(k)


def slice_bottom(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """Bottom-k groups by value (Histograms.java:207-217)."""
    return df.orderBy(F.col(value_col).asc()).limit(k)


def sort_by_value(df: DataFrame, value_col: str, ascending: bool) -> DataFrame:
    """Sort groups by value (Histograms.java:243-254)."""
    order = F.col(value_col).asc() if ascending else F.col(value_col).desc()
    return df.orderBy(order)


@functools.lru_cache(maxsize=64)
def _bin_dimension(spark: SparkSession, key_col: str, labels: tuple[str, ...]) -> DataFrame:
    """(__ord, key_col) frame of canonical bin labels, built once per
    (session, key, labels) — every time histogram reuses it. Built
    JVM-side (range + array literal) as ONE partition: a
    createDataFrame(list) would route through a Python RDD and pay ~2 s
    of Python-worker startup for 24 rows, and a one-slice range reports
    SinglePartition, so it joins a one-partition aggregate in place."""
    array = F.array(*[F.lit(k) for k in labels])
    return spark.range(0, len(labels), 1, 1).select(
        F.col("id").cast("int").alias("__ord"),
        F.element_at(array, F.col("id").cast("int") + 1).alias(key_col),
    )


def order_by_key_order(
    df: DataFrame, key_col: str, value_cols: list[str], canonical_keys: list[str]
) -> DataFrame:
    """Reindex to a canonical bin order, zero-filling missing bins
    (Histograms.orderByKeyOrder, queries/Histograms.java:226-232, applied at
    HistogramInvoker.java:142-148): the one-partition bin-dimension frame
    left-joined to the aggregate + coalesce(value, 0), sorted by bin
    ordinal.

    The aggregate (at most one row per bin) is coalesced to one
    partition and joined by shuffled hash, not broadcast: both sides are
    then SinglePartition, so the join and the sort run inside the
    aggregate's own final task — no broadcast job, no range-partition
    sampling job, no exchange after the aggregate's own."""
    bins = _bin_dimension(df.sparkSession, key_col, tuple(canonical_keys))
    out = bins.join(df.coalesce(1).hint("shuffle_hash"), key_col, "left")
    filled = [F.coalesce(F.col(c), F.lit(0)).alias(c) for c in value_cols]
    return out.orderBy("__ord").select(key_col, *filled)
