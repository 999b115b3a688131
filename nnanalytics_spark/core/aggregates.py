"""Aggregate compiler: sum / find specs → pyspark aggregate Columns.

Mirrors the reference's aggregation surface (SURVEY §2.3):
- scalar + grouped sums        AbstractQueryEngine.java:508-575, 956-963
- grouped min/max/avg ("find") AbstractQueryEngine.java:993-1077
- multi-aggregate histograms   NamenodeAnalyticsMethods.java:1890-1944 —
  expressed here as ONE groupBy().agg(a1..aK): a single shared scan, the
  optimization the reference hand-rolls with LongSummaryStatistics.

All aggregates are built-in JVM expressions (no UDFs): partial aggregation
(map-side combine) and whole-stage codegen apply automatically, so at
cluster scale each aggregate shuffles only one partial row per
(partition, group).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FIND_FUNCS = {"min": F.min, "max": F.max, "avg": F.avg}


def sum_aggregate(value_expr: Column, sum_name: str, alias: str | None = None) -> Column:
    """One sum aggregate. ``count`` sums the constant 1 in the reference
    (AbstractQueryEngine.java:389-460); here it is a real count(*)."""
    agg = F.count(F.lit(1)) if sum_name == "count" else F.sum(value_expr)
    return agg.alias(alias or sum_name)


def find_aggregate(value_expr: Column, find_op: str, alias: str | None = None) -> Column:
    """Grouped min/max/avg (genericMinning/Maxxing/AvgingHistogram,
    AbstractQueryEngine.java:1029-1077)."""
    if find_op not in FIND_FUNCS:
        raise ValueError(f"unsupported find op: {find_op}")
    return FIND_FUNCS[find_op](value_expr).alias(alias or find_op)


def exact_distinct_two_stage(
    df, group: str, value: str, alias: str = "n_distinct"
):
    """Exact COUNT(DISTINCT value) per group as TWO ordinary hash
    aggregates — groupBy(group, value) then groupBy(group) — instead of
    Spark's single count_distinct, which plans an Expand (row
    duplication per aggregate) and funnels each group's full value set
    through one reducer.

    Why it matters at 100 TB: the first aggregate combines map-side on
    (group, value), so a hot group's millions of repeated values shrink
    to its distinct set BEFORE the exchange, and the distinct set itself
    is spread across reducers by (group, value) — no single task ever
    holds a whole hot group. The second aggregate counts |distinct| rows.
    Same answer, skew-safe plan; asserted Expand-free in
    tests/test_entry_plans.py.

    NULL semantics match count(DISTINCT): NULL is never a distinct
    value, but a group whose values are ALL NULL still appears with 0 —
    so the null row survives stage one and is excluded only from the
    stage-two count."""
    return (
        df.groupBy(F.col(group), F.col(value))
        .agg(F.lit(1).alias("_one"))
        .groupBy(group)
        .agg(
            F.sum(
                F.when(F.col(value).isNotNull(), 1).otherwise(0)
            ).alias(alias)
        )
    )


def merge_partial_aggregates(state, batch_agg, key: str):
    """Incremental rollup maintenance: fold a new batch's partial
    aggregates into a stored state table WITHOUT rescanning history —
    union the two partial tables and re-combine (sum of counts, sum of
    sums). The scan cost per refresh is O(|batch| + |state|), and
    |state| is |distinct keys|, not history — the difference between a
    100 TB rescan and a seconds-long merge. This helper combines
    SUM-mergeable columns (counts, sums); min/max state would combine
    with min()/max() the same way, and avg is derived (sum/cnt) at READ
    time, never stored, or it would not combine."""
    from pyspark.sql import functions as F

    cols = [c for c in state.columns if c != key]
    assert batch_agg.columns == state.columns, (state.columns, batch_agg.columns)
    return (
        state.unionByName(batch_agg)
        .groupBy(key)
        .agg(*[F.sum(c).alias(c) for c in cols])
    )


def partial_aggregate(df, key: str, value: str):
    """The per-batch partial for ``merge_partial_aggregates``: (key, cnt,
    sum_value) — DECIMAL sum so repeated merges stay order-insensitive."""
    from pyspark.sql import functions as F

    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col(value).cast("decimal(18,2)")).alias("sum_value"),
    )


def hll_partial(df, key: str, value: str, lg_k: int = 14):
    """Per-batch HyperLogLog sketch state: (key, hll binary) — the
    mergeable-sketch analog of ``partial_aggregate`` for COUNT(DISTINCT).
    An exact distinct cannot be maintained incrementally without storing
    every seen value; an HLL sketch is a few KB per key, merges
    associatively, and keeps the estimate within ~1.04/sqrt(2^lg_k)."""
    from pyspark.sql import functions as F

    return df.groupBy(key).agg(
        F.hll_sketch_agg(F.col(value), F.lit(lg_k)).alias("hll")
    )


def merge_hll_partials(state, batch, key: str):
    """Fold a batch's sketches into the stored state — union is the HLL
    merge operator; like ``merge_partial_aggregates`` this is
    O(|batch keys| + |state keys|) per refresh, never a history rescan."""
    from pyspark.sql import functions as F

    return (
        state.unionByName(batch)
        .groupBy(key)
        .agg(F.hll_union_agg(F.col("hll")).alias("hll"))
    )


def hll_estimate(state, key: str, alias: str = "approx_distinct"):
    from pyspark.sql import functions as F

    return state.select(
        F.col(key), F.hll_sketch_estimate(F.col("hll")).alias(alias)
    )


def quantile_partial(df, key: str, value: str, width: float = 5.0):
    """Per-batch mergeable quantile state: (key, bucket, cnt) with
    bucket = floor(value / width) — the fixed-width-histogram analog of
    ``partial_aggregate`` for percentiles. Exact quantiles cannot be
    maintained incrementally without keeping every value; a bucketed
    histogram is |keys| x |occupied buckets| rows, merges by count
    addition, and bounds any quantile estimate within one bucket width
    of the true value. (Spark's percentile_approx sketch is NOT exposed
    as mergeable partial state in SQL, so the histogram is the
    engine-portable mergeable representation.)"""
    from pyspark.sql import functions as F

    bucket = F.floor(F.col(value) / F.lit(width)).cast("long")
    return df.groupBy(F.col(key), bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def merge_quantile_partials(state, batch, key: str):
    """Fold a batch's histogram into the stored state — count addition
    per (key, bucket); O(|state| + |batch|) rows per refresh, never a
    history rescan."""
    from pyspark.sql import functions as F

    return (
        state.unionByName(batch)
        .groupBy(key, "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def bucket_quantiles(state, key: str, qs=(0.5, 0.99), width: float = 5.0):
    """Read quantiles out of the histogram state: for each q, the
    smallest bucket whose cumulative count reaches ceil(q * n); emitted
    as the bucket's inclusive upper edge (an exact multiple of width).
    One window prefix-sum per key over |key, bucket| rows — the state
    table, not the event log. All-integer rank arithmetic, so the
    selected bucket is engine-independent."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy(key)
    cum = state.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(tot)
    )
    out = None
    for q in qs:
        rank = F.ceil(F.lit(q) * F.col("n")).cast("long")
        hit = (
            cum.filter(F.col("cum") >= rank)
            .groupBy(key)
            .agg(F.min("bucket").alias("b"))
            .select(
                key,
                ((F.col("b") + 1) * F.lit(width)).alias(
                    # round, not truncate: int(0.29*100) == 28 under IEEE
                    f"p{int(round(q * 100))}_upper"
                ),
            )
        )
        out = hit if out is None else out.join(hit, key)
    return out
