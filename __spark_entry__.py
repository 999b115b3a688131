"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
(or a beyond-reference pipeline operator) against the driver's testdata
tables; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL. Entries
without an oracle (MinHash/SimHash/LSH — engine-specific hash functions)
get the driver's rows-only check.

Determinism conventions shared by both sides:
- money sums go through DECIMAL(18,2) so float accumulation order can't
  skew the hash; final cast to DOUBLE.
- every ratio/avg/cosine is round(x, 6).
- relative-time semantics use the fixed anchor NOW_MS (2025-01-01T00:00Z),
  mirroring the reference's injectable-now requirement (SURVEY §7.4).
- never cast a double PRODUCT to DECIMAL (engines round a half-cent tie
  differently — Spark via the shortest string repr, DuckDB via the
  binary value); cast each factor to DECIMAL first and multiply exactly.
- when a rounded average can land exactly on its rounding boundary
  (sum divisible into n), compute round-half-up in integers:
  (2s + n) div (2n) in micro-units, never round(decimal→double / n).
Both product rules were found by sweeping ALL oracles at sf0.1 (10× the
driver's gate scale) — tie rows appear with scale, so new oracle
families should be validated there too, not only at sf0.01.
"""

from __future__ import annotations

import math as _math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nnanalytics_spark.core import postops
from nnanalytics_spark.inode import bins
from nnanalytics_spark.inode.engine import INodeEngine
from nnanalytics_spark.pipeline import dedup, similarity, text
from nnanalytics_spark.sources import oivgen as _oivgen

NOW_MS = 1_735_689_600_000  # 2025-01-01T00:00:00Z, after every events.ts
_DEC = "decimal(18,2)"


_PKG_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make `nnanalytics_spark` importable in Python WORKERS regardless of
    the harness's CWD/PYTHONPATH: cloudpickle serializes module-level
    kernel functions (mapInPandas codecs, applyInPandasWithState fold) BY
    REFERENCE, so workers must import the package. Zip it once per
    SparkContext and addPyFile — the archive rides the task includes, so
    even already-running reused workers pick it up on their next task."""
    sc = spark.sparkContext
    # Keyed on applicationId, not id(sc): CPython reuses object ids after
    # GC, so a stop()+recreate cycle could collide with a stale entry and
    # silently skip addPyFile for the new context.
    app_id = sc.applicationId
    if app_id in _PKG_SHIPPED:
        return
    import os
    import shutil
    import tempfile

    base = os.path.dirname(os.path.abspath(__file__))
    stem = os.path.join(tempfile.mkdtemp(prefix="nna_pkg_"), "nnanalytics_spark")
    archive = shutil.make_archive(stem, "zip", root_dir=base, base_dir="nnanalytics_spark")
    sc.addPyFile(archive)
    _PKG_SHIPPED.add(app_id)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ship_package(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _with_ts_cols(df: DataFrame) -> DataFrame:
    """events.ts arrives either as parquet timestamp[us] (Spark reads
    TIMESTAMP_NTZ) or as TIMESTAMP(NANOS) surfaced as a long under the
    legacy nanosAsLong conf. Branch on the actual dtype and expose
    ts_ms / ts_us as exact integer epoch values (integer div / unix_*
    — double math would lose precision), matching DuckDB's
    epoch_ms(ts) / epoch_us(ts). The machine/driver tz is UTC, so
    unix_millis on the NTZ cast is exact."""
    if dict(df.dtypes)["ts"] in ("bigint", "long"):
        return df.withColumn("ts_ms", F.expr("ts div 1000000")).withColumn(
            "ts_us", F.expr("ts div 1000")
        )
    ts = F.col("ts").cast("timestamp")
    return df.withColumn("ts_ms", F.unix_millis(ts)).withColumn(
        "ts_us", F.unix_micros(ts)
    )


def _fanout(spark: SparkSession) -> int:
    """Partition width for Python-kernel fan-out over single-split local
    inputs (the testdata tables are one parquet file each, which would
    pin the whole Arrow kernel chain to one core)."""
    return spark.sparkContext.defaultParallelism


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship_package(spark)
    # TIMESTAMP(NANOS) parquet (older testdata) is unreadable WITHOUT the
    # legacy conf — the scan itself throws before _with_ts_cols can
    # branch on the dtype. Setting it is a no-op for timestamp[us] files,
    # so set it unconditionally; guard for Spark builds without the conf.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    return _with_ts_cols(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _dsum(col: str, alias: str) -> F.Column:
    """Order-insensitive money sum: decimal accumulate, double out."""
    return F.sum(F.col(col).cast(_DEC)).cast("double").alias(alias)


def _qvec(emb: DataFrame, vec_id: int) -> list[float]:
    """Query vector by id, with a [0.0] fallback when the corpus is
    empty/degenerate (no such row). The fallback literal only ever
    evaluates per-row, so on the empty corpus every downstream plan
    (brute-force top-k, IVF probe, fusion, rerank) yields an EMPTY
    frame with its normal schema instead of a driver-side None
    subscript — the degenerate-partition contract."""
    r = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    return [0.0] if r is None else [float(x) for x in r[0]]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary over sf0.001 lineitem —
    filter → two-level group → shared-scan multi-aggregate (the reference's
    /histogram2+/histogram3 shape, SURVEY §2.3)."""
    li = _t(spark, "/root/testdata/sf0.001", "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# §2.2 filters + §2.3 scalar aggregates
# --------------------------------------------------------------------------


def q_filter_sum(spark, sf):
    """AND-chain numeric filter → multi-sum (combinedFilter + /filter&sum)."""
    li = _t(spark, sf, "lineitem")
    return li.filter((F.col("l_quantity") < 10) & (F.col("l_discount") > 0.05)).agg(
        F.count(F.lit(1)).alias("cnt"), _dsum("l_extendedprice", "sum_price")
    )


def q_filter_string_ops(spark, sf):
    """String predicate family: contains / startsWith / notEndsWith."""
    p = _t(spark, sf, "part")
    return p.filter(
        F.col("p_name").contains("re")
        & F.col("p_type").startswith("STANDARD")
        & ~F.col("p_brand").endswith("#5")
    ).agg(F.count(F.lit(1)).alias("cnt"), F.min("p_partkey").alias("min_key"))


def q_filter_date_ops(spark, sf):
    """Day-granularity date window (dateStart/dateEnd ops)."""
    o = _t(spark, sf, "orders")
    return o.filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") <= F.lit("1996-12-31"))
    ).agg(F.count(F.lit(1)).alias("cnt"), _dsum("o_totalprice", "sum_price"))


def q_dump_keys(spark, sf):
    """Path-dump analog: filtered keys, sorted, limited
    (dumpINodePaths → orderBy + limit)."""
    o = _t(spark, sf, "orders")
    return (
        o.filter(F.col("o_totalprice") > 300000)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(100)
    )


def q_find_max(spark, sf):
    """Global arg-max row (findFilter max) — TakeOrdered, not a full sort."""
    o = _t(spark, sf, "orders")
    return (
        o.select("o_orderkey", F.col("o_totalprice").alias("price"))
        .orderBy(F.col("price").desc(), "o_orderkey")
        .limit(1)
    )


def q_find_min(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.select("o_orderkey", F.col("o_totalprice").alias("price"))
        .orderBy(F.col("price").asc(), "o_orderkey")
        .limit(1)
    )


# --------------------------------------------------------------------------
# §2.3/§2.4 histograms
# --------------------------------------------------------------------------


def q_histogram_sum(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty")
    )


def q_histogram_avg(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_price")
    )


def q_histogram_find_minmax(spark, sf):
    """Grouped min/max (genericMinning/MaxxingHistogram)."""
    o = _t(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.min("o_totalprice").alias("min_price"), F.max("o_totalprice").alias("max_price")
    )


def q_histogram2(spark, sf):
    """Two-level histogram (genericTwoLevelHistogram)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(_dsum("l_extendedprice", "sum_price"))


def q_histogram3_multiagg(spark, sf):
    """K aggregates over one grouping in ONE scan (/histogram3 merge —
    value order = sums then finds, NamenodeAnalyticsMethods.java:1890-1944)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
        _dsum("l_extendedprice", "sum_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def q_histogram_having(spark, sf):
    """Post-agg HAVING (removeKeysOnConditional, 'gte' op)."""
    c = _t(spark, sf, "customer")
    out = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cnt"))
    return postops.having_filter(out, "cnt", "gte:5")


def q_histogram_top(spark, sf):
    """Top-k groups by value (sliceToTop) with deterministic tiebreak."""
    e = _events(spark, sf)
    out = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return out.orderBy(F.col("cnt").desc(), "user_id").limit(5)


def q_histogram_bottom(spark, sf):
    e = _events(spark, sf)
    out = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return out.orderBy(F.col("cnt").asc(), "user_id").limit(5)


def q_divide(spark, sf):
    """/divide: ratio of two filtered sums."""
    li = _t(spark, sf, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").agg(
        F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("__a")
    )
    total = li.agg(F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("__b"))
    return returned.crossJoin(total).select(
        F.round(F.col("__a") / F.col("__b"), 6).alias("ratio")
    )


def q_content_summary(spark, sf):
    """Subtree-style prefix aggregate (/contentSummary analog): the
    startsWith predicate pushes into the parquet scan."""
    d = _t(spark, sf, "documents")
    return d.filter(F.col("source").startswith("src1")).agg(
        F.count(F.lit(1)).alias("doc_count"), F.sum("n_chars").alias("total_chars")
    )


def q_transform_whatif(spark, sf):
    """§2.6 transform: conditional column rewrite BEFORE aggregation
    (Transforms.java — fileReplica→N analog: discounted rows count as 0)."""
    li = _t(spark, sf, "lineitem")
    rewritten = F.when(F.col("l_discount") > 0.05, F.lit(0)).otherwise(
        F.col("l_quantity")
    )
    return li.groupBy("l_returnflag").agg(
        F.sum(rewritten.cast(_DEC)).cast("double").alias("sum_qty_whatif")
    )


def q_time_histogram_monthly(spark, sf):
    """Reference time-bucket histogram (TimeHistogram monthly bins, exact
    labels, zero-filled canonical order) over events.ts vs fixed NOW."""
    e = _events(spark, sf)
    key = bins.time_bucket(F.col("ts_ms"), "monthly", NOW_MS)
    out = e.groupBy(key.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))
    return postops.order_by_key_order(out, "bin", ["cnt"], bins.time_keys("monthly"))


def q_time_histogram_weekly(spark, sf):
    """Weekly TimeHistogram variant (49 labeled bins + '49 Weeks+',
    7-day unit, zero-filled canonical order)."""
    e = _events(spark, sf)
    key = bins.time_bucket(F.col("ts_ms"), "weekly", NOW_MS)
    out = e.groupBy(key.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))
    return postops.order_by_key_order(out, "bin", ["cnt"], bins.time_keys("weekly"))


def q_space_histogram(spark, sf):
    """Byte-size bucket histogram (SpaceSizeHistogram labels/edges)."""
    li = _t(spark, sf, "lineitem")
    key = bins.space_bucket(F.col("l_extendedprice").cast("long"))
    return li.groupBy(key.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))


def q_parent_dir(spark, sf):
    """parentDir-at-depth grouping (Helper.getDirectoryAtDepthFunction)
    over synthetic paths built from p_type words."""
    p = _t(spark, sf, "part")
    path = F.concat(F.lit("/"), F.regexp_replace("p_type", " ", "/"))
    key = INodeEngine.parent_dir_at_depth(path, 2)
    return p.groupBy(key.alias("parent_dir")).agg(F.count(F.lit(1)).alias("cnt"))


# --------------------------------------------------------------------------
# beyond-reference relational/windowed operators
# --------------------------------------------------------------------------


def q_topk_per_group(spark, sf):
    """Top-3 orders by price per priority (window + row_number)."""
    from pyspark.sql import Window as W

    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", F.col("o_totalprice").alias("price"), "rn")
    )


def q_sessionization(spark, sf):
    """Sessionize events per user with a 30-min inactivity gap (lag +
    cumulative sum — the batch shape of session_window)."""
    from pyspark.sql import Window as W

    e = _events(spark, sf)
    w = W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w)
    marked = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 30 * 60 * 1000), 1).otherwise(0)
    )
    return marked.groupBy("user_id").agg(F.sum("new_sess").alias("n_sessions"))


def q_windowed_counts(spark, sf):
    """Tumbling 5-minute window counts — the batch equivalence of the
    Structured Streaming aggregation in streaming/jobs.py."""
    e = _events(spark, sf)
    win = F.expr("ts_ms div 300000").alias("win")
    return e.groupBy(win, "event_type").agg(F.count(F.lit(1)).alias("cnt"))


# --------------------------------------------------------------------------
# relational layer beyond the reference (joins / rollup / windows / set ops)
# — the reference is single-table (SURVEY §2.7); a complete engine is not.
# --------------------------------------------------------------------------


def q_join_revenue(spark, sf):
    """Multi-way join with broadcast dims (TPC-H Q5 shape): revenue per
    nation. Dim tables broadcast; only the fact join shuffles."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    n = _t(spark, sf, "nation")
    # decimal × decimal keeps the product exact (4 decimal digits); a
    # round(double) here would diverge from the oracle on half-way cases
    rev = F.col("l_extendedprice").cast(_DEC) * (F.lit(1) - F.col("l_discount")).cast(_DEC)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def q_join_anti(spark, sf):
    """Anti join (NOT EXISTS): customers with no high-value orders.
    (Every customer has SOME order in this data, so the right side is
    filtered to keep the result non-trivial.)"""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_join_semi(spark, sf):
    """Semi join (EXISTS): nations having suppliers, counted per region."""
    n = _t(spark, sf, "nation")
    s = _t(spark, sf, "supplier")
    r = _t(spark, sf, "region")
    return (
        n.join(s, n.n_nationkey == s.s_nationkey, "left_semi")
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


def q_distinct_count(spark, sf):
    """Exact distinct aggregate (the reference's closest analog is a
    driver-side toSet(), SuggestionsEngine.java:192-197)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def q_rollup(spark, sf):
    """GROUP BY ROLLUP — subtotal + grand-total rows."""
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("cnt"))


def q_pivot(spark, sf):
    """Pivot linestatus into columns."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).cast("double"))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_filled"})
    )


def q_window_running(spark, sf):
    """Running revenue per customer over order dates (window frame)."""
    from pyspark.sql import Window as W

    o = _t(spark, sf, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias("running_total"),
    )


def q_set_ops(spark, sf):
    """INTERSECT: customers ordering in both 1995 and 1996."""
    o = _t(spark, sf, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96).orderBy("o_custkey")


def q_asof_last_click(spark, sf):
    """As-of join shape: for each purchase event, the most recent prior
    click by the same user (window max over a preceding frame — the
    composition Spark uses where a native as-of join is missing)."""
    from pyspark.sql import Window as W

    e = _events(spark, sf)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts_ms"))
    ).over(w)
    return (
        e.withColumn("last_click_ms", last_click)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "last_click_ms")
    )


def q_approx_distinct(spark, sf):
    """HLL approximate distinct (rows-only: sketch internals are
    engine-specific; the exact twin is q_distinct_count)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts")
    )


def q_approx_distinct_bound(spark, sf):
    """HLL error-bound invariant (VERDICT r3 #5): the sketch estimate must
    land within 3x the requested rsd (0.05) of the exact count — the bound
    approx_count_distinct documents. Emits the exact per-group count (the
    oracle recomputes it) plus the bound verdict; the sketch value itself
    stays out of the hash (engine-specific), but a broken sketch flips
    within_bound and reds the row."""
    li = _t(spark, sf, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.05).alias("approx"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    return g.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.15
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text
# --------------------------------------------------------------------------


def q_dedup_exact(spark, sf):
    return dedup.exact_dedup(_t(spark, sf, "documents"))


def q_ngram_jaccard_pairs(spark, sf):
    """Top-20 most-similar doc pairs by exact 3-gram Jaccard, with the
    hot-shingle skew bound (df>100 shingles excluded from candidate
    generation, survivors verified on full sets — dedup.py)."""
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), threshold=0.0, max_shingle_df=100
    )
    return pairs.orderBy(F.col("jaccard").desc(), "id_a", "id_b").limit(20)


def q_minhash_lsh_pairs(spark, sf):
    """MinHash+LSH candidate pairs, hash-checked END TO END (rows-only
    until r6): portable mode swaps xxhash64 for the polynomial shingle
    fingerprint + linear permutations mod a 2^53 prime
    (dedup.portable_shingle_hash / _portable_perm), and buckets on the
    band's joined value string — so the oracle rebuilds every signature,
    every band key, and the exact candidate pair set in SQL. Same plan
    shape as the production xxhash64 path (whose recall is pinned by
    minhash_recall)."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf, "documents"), k=32, bands=8, portable=True
    ).orderBy("id_a", "id_b")


def q_lsh_verified_pairs(spark, sf):
    """LSH-proposed candidates verified by exact n-gram Jaccard — the
    scale path for exact near-dup pairs — now a full oracle twin via the
    portable signature scheme: DuckDB replays candidates AND the exact
    Jaccard verification, so precision and the emitted pair set are both
    value-checked (rows-only until r6)."""
    return dedup.lsh_verified_pairs(
        _t(spark, sf, "documents"), threshold=0.3, k=32, bands=16, portable=True
    ).orderBy("id_a", "id_b")


def q_dedup_span_removal(spark, sf):
    """Span-level corpus rewrite (pipeline/dedup.py:remove_dup_spans —
    the transform half of Lee et al. 2021, where dup_ngram_stats is the
    reporting half): drop every token position covered by an 8-gram that
    appears in >=2 docs, keeping the copy in the minimum doc id. The
    oracle replays the whole rewrite in SQL on gram STRINGS (Spark keys
    on xxhash64 of the same strings — identical grouping)."""
    return dedup.remove_dup_spans(_t(spark, sf, "documents"), n=8, min_docs=2)


def q_gopher_quality(spark, sf):
    """Gopher composite quality filter (pipeline/text.py:gopher_rules —
    Rae et al. 2021 Table A1): per-doc rule booleans + pass flag in one
    expression-only scan. Thresholds tuned to the synthetic corpus's
    length range (min 10 / max 200 words) so both outcomes occur; the
    oracle replays every rule in DuckDB list/regexp SQL."""
    return text.gopher_rules(
        _t(spark, sf, "documents"), min_words=10, max_words=200
    )


def q_dsir_weights(spark, sf):
    """DSIR importance weights (pipeline/selection.py — Xie et al. 2023):
    documents from source 'src0' play the target corpus; every doc gets
    sum(count * ln(p_target/p_raw)) over Laplace-smoothed unigram
    distributions. Per-token log-ratios are rounded to 9 dp and summed
    as DECIMAL so the weight is partition-order independent and the
    oracle reproduces it bit-exactly."""
    from nnanalytics_spark.pipeline import selection

    return selection.dsir_weights(
        _t(spark, sf, "documents"), F.col("source") == "src0"
    )


def q_quality_classifier(spark, sf):
    """Hashed linear quality classifier (pipeline/selection.py:
    hashed_classifier_scores) — the fastText-style model-based filter of
    the GPT-3/LLaMA pipelines: poly-hash feature buckets, per-bucket
    weight lookup, mean score, threshold keep. Weights are a
    deterministic integer stand-in (no training stack in-container), so
    the oracle replays the scorer bit-for-bit; plumbing (hashing,
    broadcast-shaped weight table, expression-only scan) is the real
    production shape."""
    from nnanalytics_spark.pipeline import selection

    return selection.hashed_classifier_scores(_t(spark, sf, "documents"))


def q_chunk_documents(spark, sf):
    """Context-window chunking (sampling.chunk_documents): every doc
    split into consecutive 32-token chunks, document boundaries
    preserved (the no-attention-bleed alternative to pack_sequences).
    Map-side only; the oracle replays the slicing with DuckDB list
    ranges."""
    from nnanalytics_spark.pipeline import sampling

    return sampling.chunk_documents(_t(spark, sf, "documents"), max_tokens=32)


def q_approx_quantile_bound(spark, sf):
    """GK-sketch quantile invariant (same pattern as
    approx_distinct_bound): percentile_approx(0.5, accuracy=1000) must
    land at a value whose exact rank interval intersects
    [0.5n - n/1000, 0.5n + n/1000] — the documented GK guarantee. The
    sketch value itself stays out of the hash (merge-order specific);
    a broken sketch flips within_bound and reds the row. Tie-aware:
    the value's rank interval is [rank_lt+1, rank_le]."""
    li = _t(spark, sf, "lineitem")
    acc = 1000
    g = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("approx_med"),
    )
    joined = li.join(F.broadcast(g), "l_returnflag")
    ranked = joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("l_extendedprice") < F.col("approx_med"), 1).otherwise(0)
        ).alias("rank_lt"),
        F.sum(
            F.when(F.col("l_extendedprice") <= F.col("approx_med"), 1).otherwise(0)
        ).alias("rank_le"),
    )
    lo = 0.5 * F.col("n") - F.col("n") / acc
    hi = 0.5 * F.col("n") + F.col("n") / acc
    return ranked.select(
        "l_returnflag",
        "n",
        ((F.col("rank_lt") < hi) & (F.col("rank_le") >= lo)).alias("within_bound"),
    )


def q_random_projection(spark, sf):
    """Sign random projection 64→8 dims (similarity.random_projection,
    Achlioptas 2003): derived ±1 matrix, nothing broadcast, map-side
    fold in codegen. Floats cast to double pre-fold so both engines run
    the identical IEEE sequence; outputs rounded to 6 dp."""
    return similarity.random_projection(_t(spark, sf, "embeddings"))


def q_semdedup(spark, sf):
    """SemDeDup (similarity.semdedup, Abbas et al. 2023): cluster-bounded
    semantic dedup — assign every embedding to its nearest seed centroid
    (vec_ids 0..7, pinned so the oracle reproduces the clustering
    closed-form), find within-cell cosine pairs >= 0.4 with the blocked
    BLAS kernel, and flag each vector keep/dup under the deterministic
    smaller-id-survives rule. One row per vector: (id, cell, keep)."""
    return similarity.semdedup(
        _t(spark, sf, "embeddings"), eps=0.4, centroid_ids=list(range(8))
    )


def q_bigram_lm(spark, sf):
    """Corpus-self-trained bigram-LM NLL per document (text.bigram_lm_scores,
    CCNet-style model scoring without an external model). Per-term NLL is
    rounded then summed as DECIMAL(18,6), so the doc totals are exact and
    engine-portable; the oracle replays the identical add-one bigram model."""
    return text.bigram_lm_scores(_t(spark, sf, "documents"))


def q_cluster_split(spark, sf):
    """Leakage-free train/test split (sampling.cluster_split): the split
    is decided per near-dup CLUSTER (dup_clusters over exact-Jaccard
    pairs at 0.6), so no near-duplicate pair ever straddles train/test.
    The oracle composes the proven transitive-closure CTE with the same
    Knuth bucket arithmetic — assignment is hash-checked row by row."""
    from nnanalytics_spark.pipeline import sampling

    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
    clusters = dedup.dup_clusters(docs, pairs)
    return sampling.cluster_split(docs, clusters, test_permille=100)


def q_hashed_features(spark, sf):
    """Feature hashing to 8 integer dims (text.hashed_features,
    Weinberger et al. 2009): bucket from the base-31 rolling hash, ±1
    sign from the base-37 one. Map-side only, integer-exact — the oracle
    replays both hash folds bit-for-bit."""
    return text.hashed_features(_t(spark, sf, "documents"), dim=8)


def q_count_min_bound(spark, sf):
    """Count-min sketch error-bound invariant (text.count_min_table /
    count_min_estimates, Cormode & Muthukrishnan 2005): for the 20 most
    frequent tokens, the sketch estimate must be >= the exact count
    (structural) and <= exact + floor(e·N/width) (the epsilon guarantee;
    deterministic on a fixed corpus). The sketch itself is a (d, bucket,
    cnt) DataFrame — depth·width rows from ONE keyed aggregate — and the
    oracle rebuilds sketch, estimates and bound entirely in SQL."""
    docs = _t(spark, sf, "documents")
    width = 16  # vocab is small; a narrow sketch makes the row discriminative
    # ONE fanned-out tokenize pass, checkpointed, feeding sketch + exact
    # + totals (r9-opt): the corpus tokenize previously ran once per
    # consumer, each pinned to the single parquet split (profiled 2.05 s
    # single-task). The text shuffle is ~600 KB; the token stream and
    # every aggregate are order-free, so results are unchanged.
    toks = (
        docs.select("text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(text.tokens(F.lower(F.col("text")))).alias("tok"))
        .localCheckpoint(eager=False)
    )
    sketch = text.count_min_table(toks=toks, width=width, depth=4)
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.col("exact_cnt").desc(), F.col("tok")).limit(20)
    totals = toks.agg(F.count(F.lit(1)).alias("n_total"))
    est = text.count_min_estimates(sketch, top.select("tok"), width=width)
    return (
        top.join(est, "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            "exact_cnt",
            "cms_estimate",
            (
                (F.col("cms_estimate") >= F.col("exact_cnt"))
                & (
                    F.col("cms_estimate") - F.col("exact_cnt")
                    <= F.floor(F.lit(2.718281828459045) * F.col("n_total") / width)
                )
            ).alias("within_bound"),
        )
        .orderBy("tok")
    )


def q_kmeans_refine(spark, sf):
    """One DISTRIBUTED Lloyd iteration (similarity.kmeans_refine): assign
    the corpus to the pinned seed centroids (vec_ids 0..7, broadcast
    argmax with round-6 tie-break — the same assignment the semdedup row
    proves), then recompute each cell centroid as the member mean via one
    keyed aggregate with map-side partial sums. The oracle replays
    assignment and the 64 per-dimension means closed-form."""
    import numpy as np

    emb = _t(spark, sf, "embeddings")
    rows = (
        # NULL-vector contract: an unembeddable seed row can't be a centroid
        emb.filter((F.col("vec_id") < 8) & F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    if not rows:
        # empty corpus: no seed centroids, empty refinement report with
        # the gate-scale schema (embeddings are 64-d by contract)
        return spark.createDataFrame(
            [], "cell int, n_members bigint, " + ", ".join(f"c{j} double" for j in range(64))
        )
    centroids = np.array([r["v"] for r in rows], dtype=np.float64)
    return similarity.kmeans_refine(emb, centroids)


def q_source_divergence(spark, sf):
    """Per-source KL(P_source || P_corpus) over token distributions
    (selection.source_divergence) — the data-mixing redundancy
    diagnostic. Per-token terms are integer-count-derived, rounded, and
    DECIMAL-summed, so source totals hash identically across engines."""
    from nnanalytics_spark.pipeline import selection

    return selection.source_divergence(_t(spark, sf, "documents"))


def q_quality_quantile(spark, sf):
    """Per-domain percentile cut (selection.top_fraction_per_group):
    keep the top 25% of documents by classifier score WITHIN each
    source — the curation step that follows model-based scoring when
    score distributions differ across domains. Ranked by (score desc,
    doc_id), so ties are deterministic; the oracle replays scorer +
    window bit-for-bit."""
    from nnanalytics_spark.pipeline import selection

    scored = selection.hashed_classifier_scores(
        _t(spark, sf, "documents"), keep=("source",)
    )
    return selection.top_fraction_per_group(scored, 0.25)


def q_dedup_keep_best(spark, sf):
    """Exact-dup survivor selection (pipeline/dedup.py:keep_best): one
    kept doc per normalized-text group, winner = longest raw text with
    lowest-id tie-break, via a single max_by hash-aggregate (no window
    sort). Oracle uses a row_number window — different mechanism, same
    deterministic winner."""
    return dedup.keep_best(_t(spark, sf, "documents"))


def q_decontaminate(spark, sf):
    """Corpus decontamination (pipeline/dedup.py:decontaminate — the
    rewrite half of the contamination scan): drop train docs sharing
    >=5% of any eval doc's trigram shingles (same eval split as
    q_contamination: every 50th doc), then report the kept corpus by
    source. The anti-join's right side is the corpus-small contaminated
    id set and broadcasts."""
    d = _t(spark, sf, "documents")
    evals = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    kept = dedup.decontaminate(train, evals, min_overlap_frac=0.05)
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("chars_kept"))
        .orderBy("source")
    )


def q_incremental_dedup(spark, sf):
    """Incremental exact dedup (pipeline/dedup.py:incremental_exact_dedup):
    docs with id%10==7 play the incoming ingest batch, the rest the
    existing corpus. Survivors = batch docs new to the corpus AND
    canonical within the batch. The corpus side is only ever touched by
    one broadcast-filtered scan — the asymmetric-size join strategy this
    operator exists for."""
    d = _t(spark, sf, "documents")
    batch = d.filter(F.col("doc_id") % 10 == 7)
    corpus = d.filter(F.col("doc_id") % 10 != 7)
    return dedup.incremental_exact_dedup(batch, corpus).select(
        "doc_id", "source", "n_chars"
    )


def q_temperature_mixture(spark, sf):
    """Temperature-scaled mixture planner (pipeline/sampling.py:
    temperature_mixture — the UniMax/mT5 sampling rule): per-source
    natural share vs T=3.33-scaled rate plus implied epochs at a 10M-char
    budget. One grouped sum + a broadcast-scalar normalization."""
    from nnanalytics_spark.pipeline import sampling

    return sampling.temperature_mixture(
        _t(spark, sf, "documents"), temperature=3.333333, token_budget=10_000_000
    )


def q_fuzzy_dedup_pipeline(spark, sf):
    """END-TO-END fuzzy dedup (the workflow a corpus team actually runs,
    composed from the verified stages): exact-Jaccard near-dup pairs at
    0.6 (bounded inverted index) → connected components → ONE survivor
    per cluster by (longest text, lowest id) → per-source kept/dropped
    report. The oracle replays the whole chain in SQL, reusing the
    recursive-CTE transitive closure the dedup_clusters row proved."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
    clusters = dedup.dup_clusters(docs, pairs)
    joined = docs.join(clusters, docs.doc_id == clusters.node)
    rank = F.struct(F.length("text").alias("q"), (-F.col("doc_id")).alias("nid"))
    survivors = joined.groupBy("cluster").agg(
        F.max_by(F.struct("source", "n_chars"), rank).alias("keep")
    )
    kept = survivors.groupBy(F.col("keep.source").alias("source")).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("keep.n_chars").alias("chars_kept"),
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        totals.join(kept, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
            "chars_kept",
        )
        .orderBy("source")
    )


def q_minhash_recall(spark, sf):
    """MinHash-LSH recall invariant (VERDICT r3 #5): every exact-Jaccard
    pair at threshold 0.6 must surface among the LSH candidates at
    (k=32, bands=16) — banding theory puts per-pair collision probability
    at 1-(1-0.36)^16 > 0.999 there, and the corpus is fixed, so n_missed
    is deterministically 0. Emits (n_exact, n_missed): the oracle
    recomputes n_exact from scratch in SQL (full shingle pipeline) and
    pins n_missed = 0 — a hash-checked recall gate for an operator whose
    signatures themselves are engine-specific."""
    docs = _t(spark, sf, "documents")
    # NOT shared with the LSH side via shingle_postings (cf.
    # q_minhash_bbit): here the LSH signatures are NATIVE xxhash64 —
    # cheap codegen whose banded self-join already rides one reused
    # exchange — so an interleaved A/B measured the shared-postings
    # variant exactly par (min-of-3 4.96 vs 4.97 s at sf0.1); the
    # simpler two-pass lineage avoids materializing the corpus-sized
    # postings table for nothing.
    # exact feeds the anti-join AND the n_exact count — checkpoint so
    # the inverted-index pipeline runs once
    exact = (
        dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cand = dedup.minhash_lsh_pairs(docs, k=32, bands=16)
    missed = exact.join(cand, ["id_a", "id_b"], "left_anti")
    return exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        missed.agg(F.count(F.lit(1)).alias("n_missed"))
    )


def q_dedup_clusters(spark, sf):
    """Connected components over the exact near-dup pair graph: every doc
    → its canonical keeper id (min reachable doc_id). Iterative min-label
    propagation in Spark; the oracle is a recursive transitive-closure CTE
    over the same exact-Jaccard pairs."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
    return dedup.dup_clusters(docs, pairs)


def q_contamination(spark, sf):
    """Benchmark-contamination scan (pipeline/dedup.py:contamination_pairs):
    every 50th doc plays the eval set; pairs where ≥5% of the eval doc's
    trigram shingles appear in a train doc are flagged — asymmetric
    containment, the leakage metric Jaccard understates."""
    d = _t(spark, sf, "documents")
    evals = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return dedup.contamination_pairs(train, evals, min_overlap_frac=0.05)


# Engine-portable per-token hash shared by q_simhash_blocks and its
# oracle: polynomial rolling hash over the token's code points modulo a
# prime just under 2^57 (state*31+255 stays within a signed 64-bit long,
# and the resulting signatures are non-negative so the oracle needs no
# unsigned-shift gymnastics — bits 57-63 are structurally zero).
_SIMHASH_POLY_MOD = 144115188075855859


def _poly_token_hash(tok):
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % _SIMHASH_POLY_MOD,
    )


def q_simhash_blocks(spark, sf):
    """The FULL text->signature->pairs SimHash path, hash-checked end to
    end (VERDICT r5 #6 — this row was rows-only while the token hash was
    xxhash64, which no SQL engine reproduces): signatures built by
    pipeline/dedup.py:simhash_signatures over an engine-portable
    polynomial token hash, then blocked pairing at blocks = max_hamming+1
    = 3 — the WIDEST split the pigeonhole guarantee allows, hence the
    most selective buckets (simhash_block_diagnostic on this corpus:
    any block whose bit range the tiny shared vocabulary votes
    identically is ONE all-pairs bucket, so fewer/wider blocks minimize
    degenerate fan-out — ~13M pre-filter candidates at sf0.1 vs ~42M at
    6 blocks, same guaranteed pair set; the 21+21+22 split also
    exercises the remainder block). Recall guarantee makes the blocked
    result EQUAL the brute-force xor/bit_count join the oracle runs."""
    sigs = dedup.simhash_signatures(
        _t(spark, sf, "documents"), token_hash=_poly_token_hash
    )
    # no orderBy: the gate hash is order-insensitive and the pair set is
    # large on this dup-heavy corpus (~800k rows at sf0.1) — a global
    # sort would only decorate the benchmark
    # materialize_sigs: the polynomial token hash is the expensive part;
    # checkpointing the (id, sig) table keeps the self-join from
    # computing it twice (lambda exprs defeat ReusedExchange)
    return dedup.simhash_pairs_from_sigs(
        sigs, max_hamming=2, blocks=3, materialize_sigs=True
    )


# Signature construction shared by q_simhash_pairs and its oracle: pure
# integer arithmetic on doc_id, identical in Spark and DuckDB. Group
# g = doc_id div 10 is replicated into four disjoint 6-bit fields
# (bits 20/28/36/44), so signatures from different groups are >=4 apart
# and every hamming<=3 pair is WITHIN a group — closed-form pair set.
# Low bits carry doc_id%10, and odd ids flip bit 50: a quadrant-3 bit
# the old high-16-block scheme always missed (changing bits 48-63
# changed the whole block key), so this row exercises the fix directly.
_SIMHASH_GROUP_MULT = (1 << 20) + (1 << 28) + (1 << 36) + (1 << 44)


def q_simhash_pairs(spark, sf):
    """Quadrant-blocked SimHash pairing (pipeline/dedup.py:
    simhash_pairs_from_sigs) over arithmetically-constructed signatures.
    Because 4-quadrant blocking guarantees recall at hamming<=3 by
    pigeonhole, the emitted pairs must EQUAL the brute-force xor/bit_count
    self-join the oracle runs — a full-value check of the blocking plan,
    including pairs whose differing bits span three quadrants."""
    i = F.col("doc_id")
    sigs = _t(spark, sf, "documents").select(
        i.alias("id"),
        (
            F.expr("doc_id div 10") * F.lit(_SIMHASH_GROUP_MULT)
            + (i % 10)
            + (i % 2) * F.lit(1 << 50)
        ).alias("sig"),
    )
    return dedup.simhash_pairs_from_sigs(sigs, max_hamming=3).orderBy("id_a", "id_b")


def q_simhash_pairs_multiblock(spark, sf):
    """The SAME pair contract as simhash_pairs under a 6-block split
    (VERDICT r5 #3): block partitioning is a fan-out dial, not a
    semantics dial — any blocks >= max_hamming+1 satisfies pigeonhole,
    so the 6x(10,10,10,10,10,14)-bit run must emit the identical pair
    set the 4x16 quadrant run (and the oracle's brute-force join) emits,
    including pairs whose flipped bits straddle the remainder block.

    Fixed 5k-doc exhibit budget (r9 full-sweep finding: 76.7x wall at
    10x rows — 10-bit fields have <=1024 distinct values, so bucket
    depth grows with the corpus and the candidate join is ~n²/2¹⁰ BY
    CONSTRUCTION; that cost cliff is exactly what
    simhash_block_diagnostic exists to price BEFORE a run, and the
    parity property this row pins is scale-invariant, so a bounded
    exhibit proves it just as well). Not binding at sf0.01 (500 docs,
    the oracle corpus — unchanged) nor at sf0.1 (exactly 5k docs — the
    bench row is unchanged too); at sf1+ the exhibit stays constant
    work."""
    i = F.col("doc_id")
    sigs = _t(spark, sf, "documents").filter(i < 5000).select(
        i.alias("id"),
        (
            F.expr("doc_id div 10") * F.lit(_SIMHASH_GROUP_MULT)
            + (i % 10)
            + (i % 2) * F.lit(1 << 50)
        ).alias("sig"),
    )
    return dedup.simhash_pairs_from_sigs(sigs, max_hamming=3, blocks=6).orderBy(
        "id_a", "id_b"
    )


def q_embedding_dup_pairs(spark, sf):
    """Embedding-cosine near-dup pairs (exact all-pairs at this scale)."""
    return similarity.all_pairs_above(_t(spark, sf, "embeddings"), threshold=0.4)


def q_ann_topk(spark, sf):
    """Brute-force cosine top-10 against the vec_id=0 vector."""
    emb = _t(spark, sf, "embeddings")
    return similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), _qvec(emb, 0), k=10
    )


def q_ann_lsh_pairs(spark, sf):
    """LSH-bucketed ANN pairs (deterministic hyperplanes). bits=None =
    the _auto_lsh_bits width rule (r9: fixed bits=8 left bucket depth
    ∝ n and the within-bucket join quadratic — 16.2x wall at 10x rows;
    auto width keeps depth ~2). At the gate scales the rule resolves
    to exactly the old bits=8 (and shorter widths are LCG-prefixes of
    longer ones), so the oracle is unchanged."""
    return similarity.lsh_bucketed_pairs(
        _t(spark, sf, "embeddings"), threshold=0.3, bits=None
    )


# keyed by sf dir (the standard index) or ("pinned", sf) for the
# pinned-centroid variant ann_ivf_topk hash-checks against
_IVF_INDEX: dict[str | tuple[str, str], str] = {}


def _ivf_index(spark, sf):
    """ivf_build once per sf dir (similarity.py:ivf_build): centroids +
    cell-partitioned assignment parquet in a temp dir, reused by every
    search in the process — the build/search split VERDICT r3 #4 asked
    for, instead of re-running k-means per query."""
    if sf not in _IVF_INDEX:
        import tempfile

        emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") != 0)
        path = tempfile.mkdtemp(prefix="nna_ivf_")
        _IVF_INDEX[sf] = similarity.ivf_build(emb, path, nlist=16)
    return _IVF_INDEX[sf]


def q_ann_ivf_topk(spark, sf):
    """IVF-probed approximate top-10 for the vec_id=0 vector over a
    PERSISTED index with PINNED centroids (the vec_id 1..8 vectors) and
    round-6 tie-broken assignment/probe/cut ordering — nprobe=4 of 8 is
    a genuinely partition-pruned scan (asserted in test_entry_plans)
    AND fully oracle-checkable: the SQL twin replays cell assignment,
    probe ranking, and the pruned top-k closed-form, so the partial
    probe itself is hash-verified (was rows-only when the cells came
    from sampled float k-means no other engine could reproduce)."""
    emb = _t(spark, sf, "embeddings")
    if emb.filter(F.col("vec_id") != 0).head() is None:
        # nothing left to index once the query vector is held out
        return spark.createDataFrame([], "vec_id long, cos_sim double")
    if ("pinned", sf) not in _IVF_INDEX:
        import tempfile

        path = tempfile.mkdtemp(prefix="nna_ivfp_")
        _IVF_INDEX[("pinned", sf)] = similarity.ivf_build_pinned(
            emb.filter(F.col("vec_id") != 0), path, centroid_ids=list(range(1, 9))
        )
    return similarity.ivf_search_rounded(
        spark, _IVF_INDEX[("pinned", sf)], _qvec(emb, 0), k=10, nprobe=4
    )


def q_ann_ivf_full(spark, sf):
    """IVF search probing EVERY cell (nprobe=nlist=16) over the persisted
    index: because cell assignment partitions the corpus and scoring is
    exact cosine, the result must EQUAL brute-force top-10 — the oracle
    recomputes that exactly in SQL, so this row hash-verifies the whole
    build -> partitioned-write -> probe -> score path end to end."""
    emb = _t(spark, sf, "embeddings")
    if emb.filter(F.col("vec_id") != 0).head() is None:
        # nothing left to index once the query vector is held out
        return spark.createDataFrame([], "vec_id long, cos_sim double")
    return similarity.ivf_search(
        spark, _ivf_index(spark, sf), _qvec(emb, 0), k=10, nprobe=16
    )


def q_cube_agg(spark, sf):
    """GROUP BY CUBE — all grouping-set combinations in one pass."""
    li = _t(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
    )


def q_median_by_group(spark, sf):
    """Exact interpolated percentiles per group (p50/p90)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90_price"),
    )


def q_stats_by_group(spark, sf):
    """Statistical aggregates: sample stddev + Pearson correlation."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )


def q_window_lead_lag(spark, sf):
    """LAG window: price delta vs the customer's previous order."""
    from pyspark.sql import Window as W

    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") - prev, 2).alias("price_delta"),
    )


def q_range_join_bands(spark, sf):
    """Non-equi (range) join: orders banded by a broadcast interval dim.
    10 rows broadcast → BroadcastNestedLoopJoin; the fact side streams
    through map-side with no shuffle (the oracle expresses the same
    banding as floor division)."""
    o = _t(spark, sf, "orders")
    bands = spark.range(10).select(
        F.col("id").alias("band"),
        (F.col("id") * 50000).cast("double").alias("lo"),
        ((F.col("id") + 1) * 50000).cast("double").alias("hi"),
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("cnt"), _dsum("o_totalprice", "sum_price"))
    )


def q_salted_join_agg(spark, sf):
    """Skew-mitigated join: the fact side carries an 8-way salt
    (l_linenumber % 8, deterministic); the dim side is exploded 8× so
    (key, salt) co-partitions. Result is identical to the unsalted join —
    the oracle runs the plain join — while a genuinely skewed orderkey
    would now spread over 8 reducers."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    salted_li = li.withColumn("salt", (F.col("l_linenumber") % 8).cast("int"))
    salted_o = o.select(
        "o_orderkey", "o_orderpriority", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("salt")
    ).withColumn("salt", F.col("salt").cast("int"))
    rev = F.col("l_extendedprice").cast(_DEC) * (F.lit(1) - F.col("l_discount")).cast(_DEC)
    return (
        salted_li.join(
            salted_o,
            (salted_li.l_orderkey == salted_o.o_orderkey)
            & (salted_li.salt == salted_o.salt),
        )
        .groupBy("o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


_TPCH_Q3 = """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
      AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


def q_sql_tpch_q3(spark, sf):
    """Native-SQL facade: tables registered as temp views, the query is
    the SAME ANSI string the oracle runs (the engine's SQL surface is a
    strict superset of the reference dialect, SURVEY §7.2-6)."""
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q3)


_TPCH_Q5 = """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


def q_sql_tpch_q5(spark, sf):
    """Six-table join (TPC-H Q5 shape): the SAME ANSI string runs on both
    engines. Catalyst reorders the join graph and broadcasts every dim
    (region/nation/supplier/customer) so only the orders⋈lineitem fact
    join shuffles — the plan shape that survives a 1000-executor 100 TB
    run."""
    for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q5)


def q_json_extract(spark, sf):
    """Semi-structured: JSON path extraction from the events.props
    payload column, aggregated per extracted key."""
    e = _events(spark, sf)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select(k.alias("k"), "value")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


def q_multimodal_features(spark, sf):
    """Multimodal feature extraction end-to-end with REAL codecs, now
    hash-checked (VERDICT r5 #6 closed the last media rows-only row):
    documents.text bytes are wrapped as real PNG/WAV containers, then
    mapInPandas decodes each payload (CRC-verified PNG inflate+unfilter /
    RIFF struct-parse) and reports the DECODED-content integrity pair
    (n_content, content_checksum) — pixel/PCM byte count and byte sum,
    pure functions of the decoded data the oracle recomputes from the
    source text (PNG zero-pads the last 64-wide row, adding count but
    not sum; WAV PCM is the text bytes exactly). The container-level
    crc32 stays un-oracled by nature — it depends on zlib's compressed
    bytes — and is pinned by the idempotence test instead
    (pipeline/multimodal.py, pipeline/codecs.py:content_summary)."""
    from nnanalytics_spark.pipeline import multimodal

    d = _t(spark, sf, "documents")
    media = multimodal.media_from_documents(d, parallelism=_fanout(spark))
    out = multimodal.extract_features(media)
    return out.select("media_id", "kind", "n_content", "content_checksum")


def q_multimodal_feature_hist(spark, sf):
    """Image-feature extraction promoted to hash-checked (VERDICT r3 #5):
    for the PNG path the full 8-bin intensity histogram is SQL-predictable
    — pixels are exactly the document's ASCII bytes plus zero padding to a
    64-wide row, so the oracle rebuilds every bucket fraction from
    character code points. (The container-level checksum/n_bytes stay in
    the rows-only multimodal_features entry: they depend on zlib output,
    which no SQL engine can predict.)"""
    from nnanalytics_spark.pipeline import multimodal

    d = _t(spark, sf, "documents")
    media = multimodal.media_from_documents(d, parallelism=_fanout(spark)).filter(
        F.col("kind") == "image"
    )
    out = multimodal.extract_features(media)
    return out.select(
        "media_id",
        "kind",
        *[F.round(F.element_at("feature", i + 1), 6).alias(f"f{i}") for i in range(8)],
    )


def q_multimodal_decode(spark, sf):
    """Real-codec decode round-trip on the gate: documents.text bytes
    become real containers (even doc_id → 8-bit grayscale PNG at width
    64; odd doc_id → 8-bit mono 8 kHz WAV), then decode_media
    struct-parses them back (PNG: chunk CRCs verified, IDAT inflated,
    scanlines unfiltered; WAV: RIFF chunk walk). Every output column is
    arithmetic in the text's UTF-8 byte length, so the DuckDB oracle
    verifies the full encode→decode loop cell-for-cell
    (pipeline/codecs.py, pipeline/multimodal.py)."""
    from nnanalytics_spark.pipeline import multimodal

    d = _t(spark, sf, "documents")
    out = multimodal.decode_media(
        multimodal.media_from_documents(d, parallelism=_fanout(spark))
    )
    return out.select(
        "media_id", "kind", "width", "height",
        "sample_rate", "n_channels", "duration_ms", "n_data",
    ).orderBy("media_id")


def q_ann_batch_topk(spark, sf):
    """Exact cosine top-5 for a batch of query vectors (vec_id < 5) in
    one corpus pass: broadcast query matrix, per-partition BLAS matmul +
    local top-k, one small window for the global ranks
    (pipeline/similarity.py:batch_topk)."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return similarity.batch_topk(corpus, queries, k=5)


def q_centroid_eval(spark, sf):
    """Embedding-quality report over the labeled embeddings table:
    per-label mean centroids, nearest-centroid assignment by cosine,
    per-label accuracy (pipeline/similarity.py:centroid_eval)."""
    return similarity.centroid_eval(_t(spark, sf, "embeddings")).orderBy("label")


def q_memory_histogram(spark, sf):
    """Memory-estimate bucket histogram (MemorySizeHistogram.java:42-90
    labels/edges) over floor(l_extendedprice) as the byte stand-in."""
    li = _t(spark, sf, "lineitem")
    key = bins.memory_bucket(F.floor("l_extendedprice").cast("long"))
    return li.groupBy(key.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))


def q_file_type_histogram(spark, sf):
    """fileType classifier histogram (FileTypeHistogram.java:100-222).
    Filenames are synthesized to exercise all three match stages — exact
    name, length-guarded prefix, last-'.'/'_' suffix — and the oracle maps
    the same construction rule straight to the expected category."""
    p = _t(spark, sf, "part")
    base = F.regexp_replace("p_name", " ", "_")
    pk = F.col("p_partkey")
    m = pk % 8
    fname = (
        F.when(m == 0, F.lit("_SUCCESS"))
        .when(m == 1, F.concat(F.lit("part-0000"), pk.cast("string")))
        .when(m == 2, F.concat(F.lit("summarylog-"), pk.cast("string")))
        .when(m == 3, F.concat(base, F.lit(".csv")))
        .when(m == 4, F.concat(base, F.lit(".parquet")))
        .when(m == 5, F.concat(base, F.lit(".json.gz")))
        .when(m == 6, F.concat(base, F.lit("_45454")))
        .otherwise(base)
    )
    return p.groupBy(bins.file_type(fname).alias("file_type")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def q_storage_type_histogram(spark, sf):
    """storageType histogram: policy id → policy name via the default HDFS
    BlockStoragePolicySuite dictionary, unmapped ids → NO_MAPPING
    (AbstractQueryEngine.java:268-277)."""
    o = _t(spark, sf, "orders")
    pid = (F.col("o_orderkey") % 16).cast("int")
    return o.groupBy(bins.storage_type_bucket(pid).alias("policy")).agg(
        F.count(F.lit(1)).alias("cnt"), _dsum("o_totalprice", "sum_price")
    )


def q_relative_time_filter(spark, sf):
    """Relative-time filter ops (daysAgo:90 AND olderThan 30 days) against
    the pinned NOW_MS anchor — the reference's now-relative family with an
    injectable now (AbstractQueryEngine.java:721-740, SURVEY §7.4)."""
    e = _events(spark, sf)
    lo = NOW_MS - 90 * bins.DAY_MS
    hi = NOW_MS - 30 * bins.DAY_MS
    return e.filter((F.col("ts_ms") >= lo) & (F.col("ts_ms") <= hi)).agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 6).alias("sum_value")
    )


def q_subtree_agg(spark, sf):
    """Global subtree aggregates (dirSubTree*, VersionContext.java:125-175)
    via ancestor-explode: every path emits its proper ancestors, one
    shuffle aggregates per-directory rollups — the scale path for tree
    recursion Spark can't do (SURVEY §7.4, inode/subtree.py)."""
    from nnanalytics_spark.inode import subtree

    p = _t(spark, sf, "part")
    path = F.concat(
        F.lit("/"),
        F.col("p_type"),
        F.lit("/"),
        F.regexp_replace("p_name", " ", "/"),
        F.lit("/part_"),
        F.col("p_partkey").cast("string"),
    )
    rows = p.select(
        F.explode(subtree.ancestors_expr(path)).alias("ancestor"),
        F.col("p_retailprice").alias("sz"),
    )
    return rows.groupBy("ancestor").agg(
        F.count(F.lit(1)).alias("n_files"), _dsum("sz", "total_size")
    )


def q_suggestions_buckets(spark, sf):
    """SuggestionsEngine file-size bucket metrics (emptyFiles/tinyFiles/
    smallFiles thresholds 0 / 1 KB / 1 MB, SuggestionsEngine.java:314-328)
    as ONE shared-scan multi-aggregate over documents.n_chars."""
    d = _t(spark, sf, "documents")
    n = F.col("n_chars")
    return d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(n == 0, 1).otherwise(0)).alias("n_empty"),
        F.sum(F.when((n > 0) & (n <= 1024), 1).otherwise(0)).alias("n_tiny"),
        F.sum(F.when((n > 1024) & (n <= 1024 * 1024), 1).otherwise(0)).alias("n_small"),
    )


def _inodes(spark, sf):
    """Deterministic inode namespace derived from part (full stored schema
    of inode/fixture.py): one file per part row under a 3-level dir tree
    built from p_type/p_name words, plus the distinct ancestor dirs.
    Every attribute is a pure expression of p_partkey/p_retailprice so the
    DuckDB oracles can reproduce it exactly."""
    from nnanalytics_spark.inode import subtree

    p = _t(spark, sf, "part")
    pk = F.col("p_partkey")
    path = F.concat(
        F.lit("/"),
        F.col("p_type"),
        F.lit("/"),
        F.regexp_replace("p_name", " ", "/"),
        F.lit("/part_"),
        pk.cast("string"),
    )
    files = p.select(
        (pk + 1_000_000).alias("id"),
        F.lit("file").alias("type"),
        path.alias("path"),
        F.concat(F.lit("part_"), pk.cast("string")).alias("name"),
        F.regexp_replace(path, "/[^/]+$", "").alias("parent"),
        F.concat(F.lit("u"), (pk % 5).cast("string")).alias("user"),
        F.concat(F.lit("g"), (pk % 3).cast("string")).alias("group"),
        F.lit(0o755).alias("permission"),
        (F.lit(NOW_MS) - (pk % 400) * F.lit(bins.DAY_MS)).alias("accessTime"),
        (F.lit(NOW_MS) - (pk % 200) * F.lit(bins.DAY_MS)).alias("modTime"),
        F.floor("p_retailprice").alias("fileSize"),
        F.lit(134_217_728).alias("blockSize"),
        (pk % 4).cast("int").alias("numBlocks"),
        (1 + pk % 3).cast("int").alias("fileReplica"),
        (pk % 16).cast("int").alias("storagePolicyId"),
        F.lit(None).cast("long").alias("nsQuota"),
        F.lit(None).cast("long").alias("dsQuota"),
        F.lit(None).cast("long").alias("nsQuotaUsed"),
        F.lit(None).cast("long").alias("dsQuotaUsed"),
        F.lit(False).alias("isUnderConstruction"),
        F.lit(False).alias("isWithSnapshot"),
        F.lit(False).alias("hasAcl"),
        F.lit(False).alias("hasEcPolicy"),
        F.lit(None).cast("int").alias("dirNumChildren"),
    )
    dpath = F.col("dpath")
    dirs = (
        p.select(F.explode(subtree.ancestors_expr(path)).alias("dpath"))
        .distinct()
        .select(
            F.xxhash64("dpath").alias("id"),
            F.lit("dir").alias("type"),
            dpath.alias("path"),
            F.when(dpath == "/", F.lit("")).otherwise(
                F.substring_index(dpath, "/", -1)
            ).alias("name"),
            F.when(dpath == "/", F.lit("")).otherwise(
                F.regexp_replace(dpath, "/[^/]+$", "")
            ).alias("parent"),
            F.lit("hdfs").alias("user"),
            F.lit("hdfs").alias("group"),
            F.lit(0o755).alias("permission"),
            F.lit(NOW_MS - 10 * bins.DAY_MS).alias("accessTime"),
            F.lit(NOW_MS - 10 * bins.DAY_MS).alias("modTime"),
            F.lit(None).cast("long").alias("fileSize"),
            F.lit(None).cast("long").alias("blockSize"),
            F.lit(None).cast("int").alias("numBlocks"),
            F.lit(None).cast("int").alias("fileReplica"),
            F.lit(0).alias("storagePolicyId"),
            F.when(F.length(dpath) % 3 == 0, F.lit(9000)).cast("long").alias("nsQuota"),
            F.when(F.length(dpath) % 4 == 0, F.lit(9_999_999_999)).cast("long").alias("dsQuota"),
            F.when(F.length(dpath) % 3 == 0, F.lit(100)).cast("long").alias("nsQuotaUsed"),
            F.when(F.length(dpath) % 4 == 0, F.lit(1000)).cast("long").alias("dsQuotaUsed"),
            F.lit(None).cast("boolean").alias("isUnderConstruction"),
            F.lit(False).alias("isWithSnapshot"),
            F.lit(False).alias("hasAcl"),
            F.lit(False).alias("hasEcPolicy"),
            F.lit(0).alias("dirNumChildren"),
        )
    )
    return files.unionByName(dirs)


def q_nna_sql_histogram(spark, sf):
    """The reference SQL dialect end-to-end (SURVEY §3.3): dialect parse →
    logical Query tuple → INodeEngine histogram plan, over the synthesized
    inode namespace. The oracle runs the semantically-identical ANSI SQL
    against the same construction."""
    from nnanalytics_spark.sql import dialect

    eng = INodeEngine(_inodes(spark, sf))
    return dialect.execute(
        "SELECT user, COUNT(*) FROM files WHERE fileSize > 500 GROUP BY user", eng
    )


def q_quota_flags(spark, sf):
    """Ancestor-walk quota booleans (isUnderNsQuota/isUnderDsQuota,
    AbstractQueryEngine.java:350-375): ancestor-explode semi-join against
    the quota-dir set (SURVEY §7.4 hard part #2), aggregated by flag."""
    from nnanalytics_spark.inode import subtree

    flagged = subtree.with_quota_flags(_inodes(spark, sf))
    return (
        flagged.filter(F.col("type") == "file")
        .groupBy("isUnderNsQuota", "isUnderDsQuota")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("fileSize").alias("sum_size"))
    )


def q_registered_dir_stats(spark, sf):
    """Per-registered-directory stats in ONE scan (CachedDirectories.analyze
    → broadcast prefix join, SURVEY §2.9 / inode/subtree.py)."""
    from nnanalytics_spark.inode import subtree

    ino = _inodes(spark, sf)
    return subtree.registered_directory_stats(ino, ["/ECONOMY", "/PROMO", "/STANDARD"])


def q_inode_columns(spark, sf):
    """Every §1.3 derived-column expression verified row-by-row through the
    registry (inode/columns.py): depth ('/'-count), permission rendered
    octal-as-decimal (AbstractQueryEngine.java:192-193), numReplicas,
    diskspaceConsumed, the 150-byte memoryConsumed model constant,
    quota ratio guard, MM/dd/yyyy date rendering, fileType. Timezone is
    pinned so date rendering is environment-independent."""
    from nnanalytics_spark.inode import columns as reg

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _inodes(spark, sf).filter(F.col("type") == "file")
    names = [
        "id",
        "depth",
        "permission",
        "numReplicas",
        "diskspaceConsumed",
        "memoryConsumed",
        "nsQuotaRatioUsed",
        "modDate",
        "fileType",
    ]
    return df.select(*[reg.COLUMNS[n].expr(df).alias(n) for n in names])


def q_dump_inode(spark, sf):
    """/dump analog (NamenodeAnalyticsMethods.java:747-770): every stored +
    derived attribute of one inode, located by name — a point lookup whose
    predicate pushes into the scan."""
    from nnanalytics_spark.inode import columns as reg

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _inodes(spark, sf).filter(F.col("name") == "part_42")
    names = ["id", "path", "name", "user", "group", "fileSize", "fileReplica",
             "depth", "permission", "numReplicas", "diskspaceConsumed",
             "memoryConsumed", "modDate", "accessDate"]
    return df.select(*[reg.COLUMNS[n].expr(df).alias(n) for n in names])


def q_suggestions_per_user(spark, sf):
    """The SuggestionsEngine per-user sweep (SURVEY §2.9): the whole
    ~36-metric battery as ONE groupBy(user) over one scan — where the
    reference iterates the namespace once per metric
    (SuggestionsEngine.java:409-493)."""
    from nnanalytics_spark.inode import suggestions

    return suggestions.per_user_report(_inodes(spark, sf), NOW_MS)


def _suggestions_oracle() -> str:
    """DuckDB twin of suggestions._battery over the _inodes construction."""
    classes = {
        "emptyFiles": "size = 0",
        "tinyFiles": "size > 0 AND size <= 1024",
        "smallFiles": "size > 1024 AND size <= 1048576",
        "mediumFiles": "size > 1048576 AND size <= 134217728",
        "largeFiles": "size > 134217728",
    }
    cols = ['count(*) AS "numFiles"']
    for name, cond in classes.items():
        for suffix, extra in (("", None), ("24h", "mod24h"), ("1yr", "acc1yr")):
            full = cond if extra is None else f"({cond}) AND {extra}"
            cols.append(
                f'CAST(SUM(CASE WHEN {full} THEN 1 ELSE 0 END) AS BIGINT)'
                f' AS "{name}{suffix}"'
            )
            cols.append(
                f'CAST(SUM(CASE WHEN {full} THEN dsc ELSE 0 END) AS BIGINT)'
                f' AS "{name}{suffix}Mem"'
            )
    for name, cond in (("oldFiles1yr", "acc1yr"), ("oldFiles2yr", "acc2yr")):
        cols.append(f'CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS "{name}"')
        cols.append(f'CAST(SUM(CASE WHEN {cond} THEN dsc ELSE 0 END) AS BIGINT) AS "{name}Ds"')
    cols.append('CAST(SUM(dsc) AS BIGINT) AS "totalDiskspace"')
    return f"""
        WITH f AS (
          SELECT CAST(floor(p_retailprice) AS BIGINT) AS size,
                 CAST(floor(p_retailprice) AS BIGINT) * (1 + p_partkey % 3) AS dsc,
                 (p_partkey % 200) <= 1 AS mod24h,
                 (p_partkey % 400) >= 365 AS acc1yr,
                 (p_partkey % 400) >= 730 AS acc2yr,
                 'u' || CAST(p_partkey % 5 AS VARCHAR) AS u
          FROM part
        )
        SELECT u AS "user", {", ".join(cols)}
        FROM f GROUP BY 1
    """


def q_file_age_histogram(spark, sf):
    """SuggestionsEngine file-age report (SuggestionsEngine.java:162-189):
    modTime monthly buckets → count + diskspace in one summarizing pass
    over the synthesized inode namespace."""
    from nnanalytics_spark.inode import suggestions

    return suggestions.file_age_histogram(_inodes(spark, sf), NOW_MS)


def q_top_directories(spark, sf):
    """Top-k directories at depth by file count & diskspace
    (SuggestionsEngine.java:287-310): parentDir(depth=2) grouping →
    orderBy(count desc) slice."""
    from nnanalytics_spark.inode import suggestions

    return suggestions.top_directories(_inodes(spark, sf), depth=2, k=10)


def q_quota_report(spark, sf):
    """Per-user per-quota-dir report (cache/CachedQuotas.java:76-171):
    assigned/used/ratio for ns+ds plus the ≥85% nearLimit flag. Ratio is
    the reference's integer truncation of 100·used/assigned."""
    from nnanalytics_spark.inode import suggestions

    return suggestions.quota_report(_inodes(spark, sf))


def q_issue_ranking(spark, sf):
    """/top endpoint analog (SuggestionsEngine.java:1299-1374): k most
    offending users for one cached issue metric — sort+slice over the
    per-user sweep report."""
    from nnanalytics_spark.inode import suggestions

    per_user = suggestions.per_user_report(_inodes(spark, sf), NOW_MS)
    return suggestions.issue_ranking(per_user, "tinyFiles", k=3, top=True)


def q_file_type_report(spark, sf):
    """Per-user × fileType two-level report (cache/CachedFileTypes.java:
    57-84): count & diskspace per owner per classified file type. Names
    are synthesized (same rule as file_type_histogram) so all three
    classifier stages appear under the user dimension."""
    from nnanalytics_spark.inode import suggestions

    p = _t(spark, sf, "part")
    base = F.regexp_replace("p_name", " ", "_")
    pk = F.col("p_partkey")
    m = pk % 8
    fname = (
        F.when(m == 0, F.lit("_SUCCESS"))
        .when(m == 1, F.concat(F.lit("part-0000"), pk.cast("string")))
        .when(m == 2, F.concat(F.lit("summarylog-"), pk.cast("string")))
        .when(m == 3, F.concat(base, F.lit(".csv")))
        .when(m == 4, F.concat(base, F.lit(".parquet")))
        .when(m == 5, F.concat(base, F.lit(".json.gz")))
        .when(m == 6, F.concat(base, F.lit("_45454")))
        .otherwise(base)
    )
    ino = p.select(
        F.lit("file").alias("type"),
        F.concat(F.lit("u"), (pk % 5).cast("string")).alias("user"),
        fname.alias("name"),
        F.floor("p_retailprice").alias("fileSize"),
        (1 + pk % 3).alias("fileReplica"),
    )
    return suggestions.file_type_report(ino)


def q_pii_scrub(spark, sf):
    """PII redaction pass (pipeline/text.py:scrub_pii): per-category match
    counts + the scrubbed text. A deterministic email/phone tail is
    appended per doc so the redaction is observable; patterns are written
    RE2-compatible so the oracle applies the identical regexes in the
    identical order."""
    d = _t(spark, sf, "documents")
    salted = d.withColumn(
        "t",
        F.concat(
            "text",
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567"),
        ),
    )
    out = text.with_pii_scrubbed(salted, "t")
    return out.select("doc_id", "n_email", "n_phone", "n_ssn", "n_ipv4", "scrubbed")


def q_dir_scalars(spark, sf):
    """SuggestionsEngine dir-scalar battery (emptyDirs + 24h/1yr variants,
    SuggestionsEngine.java:316-363) — one conditional-aggregate scan over
    the dirs partition."""
    from nnanalytics_spark.inode import suggestions

    return suggestions.dir_scalars(_inodes(spark, sf), NOW_MS)


def q_term_stats(spark, sf):
    """Corpus vocabulary: top-100 terms by collection frequency with doc
    frequency and smoothed IDF — one explode + one groupBy(term) pass,
    corpus size broadcast in (pipeline/text.py:term_stats)."""
    return text.term_stats(_t(spark, sf, "documents"), k=100)


def q_pack_sequences(spark, sf):
    """Sequence packing for training: shard the corpus, then one window
    prefix-sum per shard assigns each doc its pack (fixed 2048-token
    chunks of the concatenated stream) and start offset
    (pipeline/sampling.py:pack_sequences)."""
    from nnanalytics_spark.pipeline import sampling

    d = sampling.shard_assign(_t(spark, sf, "documents"), 4)
    out = sampling.pack_sequences(d, budget=2048, shard_col="shard")
    return out.select("doc_id", "shard", "n_tokens", "start_offset", "pack_id")


def q_time_histogram_yearly(spark, sf):
    """Yearly TimeHistogram variant (4 labeled bins + '4 Years+', 365-day
    unit, zero-filled canonical order) — completes the four timeRange
    grains (daily/weekly/monthly/yearly) on the driver gate."""
    e = _events(spark, sf)
    key = bins.time_bucket(F.col("ts_ms"), "yearly", NOW_MS)
    out = e.groupBy(key.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))
    return postops.order_by_key_order(out, "bin", ["cnt"], bins.time_keys("yearly"))


def q_users(spark, sf):
    """/users endpoint analog (SuggestionsEngine.java:192-197): the
    distinct FILE-owner set with per-owner counts over the synthesized
    namespace. Files-only keeps the oracle a one-liner over part instead
    of re-deriving the ancestor-dir count with array gymnastics (fragile
    under oracle-engine upgrades — VERDICT r2 #9)."""
    ino = _inodes(spark, sf).filter(F.col("type") == "file")
    return ino.groupBy("user").agg(F.count(F.lit(1)).alias("cnt")).orderBy("user")


def q_window_ntile(spark, sf):
    """NTILE + PERCENT_RANK window functions: price quartiles within each
    order priority."""
    from pyspark.sql import Window as W

    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


def q_window_range_frame(spark, sf):
    """RANGE-frame window: trailing-90-day spend per customer (value-based
    frame over a day ordinal, vs the row-based frames elsewhere)."""
    from pyspark.sql import Window as W

    o = _t(spark, sf, "orders")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1990-01-01"))
    w = W.partitionBy("o_custkey").orderBy(day.asc()).rangeBetween(-90, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias("trailing_90d"),
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_grouping_sets(spark, sf):
    """Explicit GROUPING SETS (complements cube/rollup): per-flag,
    per-status, and grand-total rows in one pass."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GROUPING_SETS_SQL)


def q_stratified_sample(spark, sf):
    """Deterministic stratified sampling (pipeline/sampling.py): keep
    ~rate/1000 per source via a multiplicative id-hash — no rand(), so
    the oracle replays the exact row set. Aggregated per stratum with an
    id-sum witness proving identical membership."""
    from nnanalytics_spark.pipeline import sampling

    d = _t(spark, sf, "documents")
    kept = sampling.stratified_sample(
        d, {"src0": 100, "src1": 500, "src2": 1000}, default_permille=250
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_sum")
    )


def q_shard_histogram(spark, sf):
    """Deterministic corpus sharding: shard = knuth-hash(id) % 16 — the
    write-side partition key. Histogram proves balance + membership."""
    from nnanalytics_spark.pipeline import sampling

    d = _t(spark, sf, "documents")
    return (
        sampling.shard_assign(d, 16)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("doc_id").alias("id_sum"))
    )


def q_corpus_version_diff(spark, sf):
    """Corpus-version manifest diff (dedup.survivor_diff — VERDICT r7
    #8): snapshot A = the corpus before ingest (doc_id % 10 != 7),
    snapshot B = after ingesting the batch AND pruning policy-removed
    docs (doc_id % 20 == 6 dropped). Survivors = keep_best winners per
    8-token content-prefix family (the coarse canonical key that makes
    near-dup families real at gate scale), ranked by raw length with
    id tie-break. Output: every survivor-set change with its reason —
    added / promoted / removed / displaced, all four non-empty on this
    corpus. Two hash aggregates + id-only joins; at 100 TB the same
    classification runs off persisted per-version survivor manifests.
    The oracle replays the prefix key, both winner windows, and the
    membership CASEs."""
    d = _t(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 10 != 7)
    new = d.filter(F.col("doc_id") % 20 != 6)
    key = F.array_join(
        F.slice(F.split(dedup.normalized(F.col("text")), " "), 1, 8), " "
    )
    return dedup.survivor_diff(old, new, key=key)


def q_curation_pipeline(spark, sf):
    """The composed end-to-end curation DAG (VERDICT r7 #8): quality
    gate → near-dup family dedup → decontamination → temperature-scaled
    mixture plan, as ONE Spark plan, so cross-operator interactions
    (filter pushdown through the dedup aggregate, the contamination
    scan seeing only survivors, the mixture reading the cleaned corpus)
    are exercised and timed together instead of stage-by-stage:

    1. quality: text.quality_score >= 0.5 over the train split
       (doc_id % 50 != 0; every 50th doc is the held-out eval set);
    2. dedup: keep_best per 8-token content-prefix family, ranked by
       the quality score itself (best copy survives, id tie-break);
    3. decontaminate: drop survivors sharing >=5% of any eval doc's
       trigram shingles (dedup.decontaminate — broadcast anti-join);
    4. mix: sampling.temperature_mixture (UniMax/mT5 rule, T=10/3,
       10M-char budget) over the cleaned survivors.

    Every stage is individually driver-verified elsewhere
    (corpus_curation, dedup_keep_best, decontaminate,
    temperature_mixture); this row pins their composition. The oracle
    replays all four stages in one WITH chain."""
    from nnanalytics_spark.pipeline import sampling

    d = _t(spark, sf, "documents")
    evals = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    scored = train.withColumn("quality", text.quality_score(F.col("text"))).filter(
        F.col("quality") >= 0.5
    )
    key = F.array_join(
        F.slice(F.split(dedup.normalized(F.col("text")), " "), 1, 8), " "
    )
    survivors = dedup.keep_best(scored, quality_col="quality", key=key).select(
        F.col("keep_id").alias("doc_id")
    )
    kept = scored.join(survivors, "doc_id")
    clean = dedup.decontaminate(kept, evals, min_overlap_frac=0.05)
    return sampling.temperature_mixture(
        clean, temperature=3.333333, token_budget=10_000_000
    )


def q_corpus_curation(spark, sf):
    """End-to-end curation pipeline composition: exact-dedup keeper ∧
    quality ≥ 0.5 ∧ predicted-language = 'en' → per-source survivor count
    and mean quality. One dedup shuffle + map-side filters."""
    d = _t(spark, sf, "documents")
    keepers = dedup.exact_dedup(d).select(F.col("keep_id").alias("doc_id"))
    scored = d.select(
        "doc_id",
        "source",
        text.quality_score(F.col("text")).alias("quality"),
        text.lang_id(F.col("text")).alias("pred_lang"),
    )
    return (
        scored.join(keepers, "doc_id")
        .filter((F.col("quality") >= 0.5) & (F.col("pred_lang") == "en"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # decimal-exact numerator → order-insensitive mean (same as the
            # money-sum convention; bare avg() hit a round(…,6) boundary)
            F.round(
                F.sum(F.col("quality").cast("decimal(16,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
    )


def q_text_tokens(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.subword_count(F.col("text")).alias("n_subwords"),
    )


def q_text_quality(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.round(text.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(text.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        text.quality_score(F.col("text")).alias("quality"),
    )


def q_text_langid(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy(text.lang_id(F.col("text")).alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def q_text_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", text.fingerprint(F.col("text")).alias("fp"))


def q_text_repetition(spark, sf):
    """Gopher-style repetition quality signals: duplicate-word fraction
    (pure array expressions) and top-bigram coverage (one keyed shuffle
    with deterministic lexicographic tie-break) — pipeline/text.py."""
    return text.repetition_signals(_t(spark, sf, "documents")).orderBy("doc_id")


def q_dup_ngram_stats(spark, sf):
    """Cross-document duplicated-span statistics: per-doc fraction of
    token 3-gram positions whose gram occurs in ≥2 documents — the
    token-granular substring-dedup signal (Lee et al. 2021), two keyed
    shuffles with map-side combine (pipeline/dedup.py:dup_ngram_coverage)."""
    return dedup.dup_ngram_coverage(
        _t(spark, sf, "documents"), n=3, min_docs=2
    ).orderBy("doc_id")


def q_embedding_norm_stats(spark, sf):
    """Per-label embedding L2-norm geometry report — codegen'd array fold
    + one groupBy, no UDFs (pipeline/similarity.py:norm_stats)."""
    return similarity.norm_stats(_t(spark, sf, "embeddings")).orderBy("label")


def q_embedding_quantization(spark, sf):
    """Symmetric int8 quantization report: per-label mean reconstruction
    MSE + mean scale, element-wise expressions on one scan
    (pipeline/similarity.py:quantization_error)."""
    return similarity.quantization_error(_t(spark, sf, "embeddings")).orderBy("label")


def q_embedding_dup_clusters(spark, sf):
    """Semantic near-dup clusters: connected components over the
    embedding-cosine pair graph (cos ≥ 0.4) — composes the exact
    all-pairs kernel with the same min-label propagation used for the
    shingle graph; the oracle is a recursive transitive-closure CTE over
    SQL-computed cosine pairs."""
    emb = _t(spark, sf, "embeddings")
    pairs = similarity.all_pairs_above(emb, threshold=0.4)
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    return dedup.dup_clusters(nodes, pairs).orderBy("node")


def q_histogram2_nested(spark, sf):
    """/histogram2 nested-output contract (Histograms.twoLeveltoJson,
    queries/Histograms.java:98-128): two-level grouping → per-outer-key
    deterministic 'inner=value' serialization, sorted — the key-order
    contract the nested JSON renderer preserves, checkable as one string
    column per outer key."""
    from nnanalytics_spark.core.ir import Query

    eng = INodeEngine(_inodes(spark, sf))
    h2 = eng.run(Query(set="files", type="user", type2="group", sums=["count"], now_ms=NOW_MS))
    inner = F.concat_ws("=", F.col("group"), F.col("count").cast("string"))
    return (
        h2.groupBy("user")
        .agg(F.concat_ws(",", F.sort_array(F.collect_list(inner))).alias("nested"))
    )


def q_having_indexed(spark, sf):
    """Indexed HAVING over a multi-agg histogram (/histogram3's
    removeKeysOnConditional2, AbstractQueryEngine.java:835-884):
    'idx:op:value;idx:op:value' conditions address the K value columns by
    position, AND-chained."""
    from nnanalytics_spark.core.ir import Query

    eng = INodeEngine(_inodes(spark, sf))
    q = Query(
        set="files",
        type="user",
        sums=["count", "diskspaceConsumed"],
        having="0:gte:100;1:lt:759567",
        now_ms=NOW_MS,
    )
    return eng.run(q)


def q_url_histogram(spark, sf):
    """The reference's real query-string surface end-to-end
    (NamenodeAnalyticsMethods.java:1540-1579 parameter contract →
    core/url.py): parse `/histogram?...` → Query → engine plan."""
    from nnanalytics_spark.core import url

    eng = INodeEngine(_inodes(spark, sf))
    return url.run_url(
        eng,
        "http://localhost:4567/histogram?set=files&filters=fileSize:gt:500"
        "&type=user&sum=diskspaceConsumed&histogramOutput=csv",
        now_ms=NOW_MS,
    )


def q_url_filter(spark, sf):
    """/filter through the URL contract (Helper.parseFilters grammar,
    analytics/Helper.java:235-280): triplet filter string + multi-sum."""
    from nnanalytics_spark.core import url

    eng = INodeEngine(_inodes(spark, sf))
    return url.run_url(
        eng,
        "http://localhost:4567/filter?set=files"
        "&filters=fileSize:gt:100,user:notEq:u3&sum=count,fileSize",
        now_ms=NOW_MS,
    )


def q_oiv_xml_roundtrip(spark, sf):
    """`hdfs oiv -p XML` ingestion (sources/loader.py:read_fsimage_xml):
    parse the PBImageXmlWriter element layout — INodeSection attributes +
    INodeDirectorySection parent/child edges — and rebuild absolute paths
    by the root-down level walk. The fixture namespace is closed-form
    (sources/oivgen.py) so the oracle reproduces every row from range().
    """
    import tempfile

    from nnanalytics_spark.sources import loader, oivgen

    _ship_package(spark)
    tmp = tempfile.mkdtemp(prefix="oiv_xml_")
    oivgen.write_oiv_xml(tmp, n_dirs=4, files_per_dir=25)
    ino = loader.read_fsimage_xml(spark, tmp)
    return ino.filter(F.col("type") == "file").select(
        "id", "type", "path", "name", "user", "group", "permission",
        "accessTime", "modTime", "fileSize", "fileReplica", "numBlocks",
    )


def q_fsimage_proto_roundtrip(spark, sf):
    """Binary protobuf FSImage ingestion (sources/fsimage.py:
    read_fsimage_binary — VERDICT r3 #6): parse the raw checkpoint
    container (FileSummary trailer -> INODE / INODE_DIR / STRING_TABLE
    sections, packed-permission string-table resolution, block-sum file
    sizes, level-walk path rebuild) with NO `hdfs oiv` export step.
    Same closed-form namespace as oiv_xml_roundtrip, written by an
    independent encoder, so the same range() oracle predicts every row
    — and batch=16 forces genuinely parallel multi-range decode."""
    import tempfile

    from nnanalytics_spark.sources import fsimage

    _ship_package(spark)
    tmp = tempfile.mkdtemp(prefix="fsimage_bin_")
    img = fsimage.write_fsimage_binary(tmp, n_dirs=4, files_per_dir=25)
    ino = fsimage.read_fsimage_binary(spark, img, batch=16)
    return ino.filter(F.col("type") == "file").select(
        "id", "type", "path", "name", "user", "group", "permission",
        "accessTime", "modTime", "fileSize", "fileReplica", "numBlocks",
    )


def q_fsimage_gzip_roundtrip(spark, sf):
    """Compressed binary FSImage ingestion (VERDICT r5 #2): the writer
    stamps FileSummary.codec=GzipCodec and gzips each section as its own
    stream — the exact on-disk shape `dfs.image.compress=true` produces
    (NameNodeLoader.java:361 loads these via FSImageUtil's codec wiring).
    The reader inflates the three needed sections once, streaming, into
    a sidecar and runs the SAME boundary-scan + parallel mapInPandas
    decode — so the range() oracle still predicts every row. Different
    namespace size than fsimage_proto_roundtrip so the two rows can't
    shadow each other."""
    import tempfile

    from nnanalytics_spark.sources import fsimage

    _ship_package(spark)
    tmp = tempfile.mkdtemp(prefix="fsimage_gz_")
    img = fsimage.write_fsimage_binary(tmp, n_dirs=5, files_per_dir=17, codec="gzip")
    ino = fsimage.read_fsimage_binary(spark, img, batch=16)
    return ino.filter(F.col("type") == "file").select(
        "id", "type", "path", "name", "user", "group", "permission",
        "accessTime", "modTime", "fileSize", "fileReplica", "numBlocks",
    )


def q_replica_histogram(spark, sf):
    """fileReplica histogram key: EC-policied files bin under the policy
    NAME instead of the replication factor (VersionContext.java:206-219,
    AbstractQueryEngine.java:212). The base namespace has no EC files, so
    flag every 7th part file — a pure p_partkey expression the oracle
    mirrors."""
    from nnanalytics_spark.core import url

    ino = _inodes(spark, sf).withColumn(
        "hasEcPolicy",
        (F.col("type") == "file") & (((F.col("id") - 1_000_000) % 7) == 0),
    )
    return url.run_url(
        INodeEngine(ino),
        "http://localhost:4567/histogram?set=files&type=fileReplica&sum=count",
        now_ms=NOW_MS,
    )


def q_dir_quota_histogram(spark, sf):
    """dirQuota histogram key (AbstractQueryEngine.java:212-213) with the
    HistogramInvoker gt:0 cleanup (HistogramInvoker.java:169-176): per-dir
    integer-truncated ns-quota ratio; only quota-bearing dirs survive."""
    from nnanalytics_spark.core import url

    return url.run_url(
        INodeEngine(_inodes(spark, sf)),
        "http://localhost:4567/histogram?set=dirs&type=dirQuota&sum=nsQuotaRatioUsed",
        now_ms=NOW_MS,
    )


def q_url_sort_by_value(spark, sf):
    """sortByValue post-op through the URL surface (&sortDescending=true,
    reference sort-order contract TestNNAnalyticsBase.java:882-925): same
    aggregate as url_histogram, value-ordered server-side. The driver hash
    is order-insensitive, so this row pins values-unchanged-under-sort;
    the ordering itself is asserted by tests/test_url_golden.py."""
    from nnanalytics_spark.core import url

    return url.run_url(
        INodeEngine(_inodes(spark, sf)),
        "http://localhost:4567/histogram?set=files&filters=fileSize:gt:500"
        "&type=user&sum=diskspaceConsumed&sortDescending=true",
        now_ms=NOW_MS,
    )


def q_all_pairs_blocked(spark, sf):
    """The block-decomposed exact all-pairs kernel itself
    (similarity.all_pairs_above_blocked — the 100 TB path) under the same
    exact-cosine oracle as embedding_dup_pairs: broadcast_limit=0 forces
    the O(n·B)-shuffle applyInPandas block plan, so the hash gate verifies
    the kernel, not just the broadcast dispatch."""
    return similarity.all_pairs_above(
        _t(spark, sf, "embeddings"), threshold=0.4, broadcast_limit=0
    )


def q_sessionization_parity(spark, sf):
    """Streaming sessionization (applyInPandasWithState interval-merge,
    streaming/stateful.py:67) over the events table as a file stream; the
    oracle is the SAME SQL as `sessionization`, so one green row pins the
    stateful streaming operator AND the batch lag+cumsum twin to each
    other. The foreachBatch collect is bounded by |distinct users|, not
    events (update-mode emissions, latest epoch wins)."""
    from nnanalytics_spark.streaming.stateful import streaming_sessionization

    _ship_package(spark)  # stateful fold is unpickled in Python workers
    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    # FileStreamSource wants a directory; glob-filter the sf dir down to
    # the events table so the other tables' files are never listed in.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    ev = _with_ts_cols(stream).select("user_id", "ts_ms")
    out = streaming_sessionization(ev)

    emissions: list[tuple[int, int, int]] = []

    def sink(batch_df, epoch_id):
        for r in batch_df.collect():
            emissions.append((epoch_id, int(r["user_id"]), int(r["n_sessions"])))

    # The stateful operator spawns one state-store instance (and an Arrow
    # Python worker) per shuffle partition, captured at stream start — a
    # vanilla 200-partition session pays ~25 s of worker fan-out for a
    # 150-key state. Pin a sane width for the stream, restore after.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = out.writeStream.outputMode("update").foreachBatch(sink).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    final: dict[int, int] = {}
    for _epoch, user, n in sorted(emissions):
        final[user] = n
    from nnanalytics_spark.core.smalldf import local_df

    return local_df(spark, sorted(final.items()), "user_id long, n_sessions long")


def q_watermark_window_parity(spark, sf):
    """Append-mode watermarked window counts (streaming/refresh.py:
    windowed_event_counts) with a REAL late-data drop, hash-pinned to a
    batch SQL twin. Three deterministic file-stream segments:

      batch 0 — every event (builds all window state; watermark still 0);
      batch 1 — replay of the tail rows (windows past max-H are never
                emitted in append mode, so re-sending them changes no
                output — the batch exists purely to advance Spark's
                lagging late-event watermark, which trails eviction by
                one batch: `watermarkForLateEvents` vs `ForEviction`);
      batch 2 — replay of old rows (< max-3H): every one lands below the
                late-event watermark and is dropped (asserted > 0 in
                tests/test_streaming.py), so emitted counts stay exact.

    Emitted set = windows with end <= max(ts)-H, counts over ALL events —
    exactly the oracle SQL. At 100 TB the foreachBatch collect becomes a
    parquet sink; state is bounded by |open windows|, not the corpus."""
    import os
    import tempfile
    import time

    h_ms = 601_000  # not a multiple of the 300 s window so window ends
    win_ms = 300_000  # never tie the watermark (hash-stable boundary)
    ev = _events(spark, sf).select("event_id", "ts_ms", "event_type")
    max_ts = ev.agg(F.max("ts_ms")).collect()[0][0]
    if max_ts is None:
        # empty event log: no windows can close — typed empty parity
        from nnanalytics_spark.core.smalldf import local_df

        return local_df(spark, [], "win long, event_type string, cnt long")
    seg_dir = tempfile.mkdtemp(prefix="nna_wm_seg_")
    segments = [
        ev,
        ev.filter(F.col("ts_ms") > max_ts - win_ms),
        ev.filter((F.col("ts_ms") < max_ts - 3 * h_ms) & (F.col("event_id") % 97 == 0)),
    ]
    base_mtime = time.time() - 3600
    for i, seg in enumerate(segments):
        path = f"{seg_dir}/seg{i}"
        seg.coalesce(1).write.parquet(path)
        # FileStreamSource orders batches by mtime — pin it explicitly so
        # segment arrival order never depends on write latency.
        for name in os.listdir(path):
            os.utime(os.path.join(path, name), (base_mtime + 10 * i,) * 2)

    stream = (
        spark.readStream.schema("event_id long, ts_ms long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{seg_dir}/*")
    )
    from nnanalytics_spark.streaming.refresh import windowed_event_counts

    out = windowed_event_counts(
        stream.withColumn("ts", F.timestamp_millis(F.col("ts_ms"))),
        window="300 seconds",
        horizon=f"{h_ms} milliseconds",
        with_value=False,
    )
    rows: list[tuple[int, str, int]] = []
    dropped = [0]

    def sink(batch_df, _epoch):
        for r in batch_df.collect():
            rows.append(
                (
                    int(r["window"].start.timestamp() * 1000) // win_ms,
                    r["event_type"],
                    int(r["cnt"]),
                )
            )

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = out.writeStream.outputMode("append").foreachBatch(sink).start()
        try:
            q.processAllAvailable()
            dropped[0] = sum(
                op.get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress
                for op in p["stateOperators"]
            )
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    q_watermark_window_parity.last_dropped = dropped[0]
    from nnanalytics_spark.core.smalldf import local_df

    # None-safe sort key: a NULL event_type must not TypeError against
    # str (the collected order is cosmetic — the driver hash is
    # order-insensitive)
    return local_df(
        spark,
        sorted(rows, key=lambda r: (r[0], r[1] is not None, r[1] or "", r[2])),
        "win long, event_type string, cnt long",
    )


def q_stream_static_join_parity(spark, sf):
    """Stream-static broadcast join (the standard streaming-enrichment
    shape: each micro-batch of events joins a static dimension without
    any state store), hash-pinned end-to-end: the stream writes the
    ENRICHED ROWS to a parquet sink, and the query aggregates the sink's
    contents — so the hash covers the streamed join output on disk, not
    just a plan. Stateless join → no watermark needed; the static side
    broadcasts per micro-batch exactly as it would on a cluster.
    value_cents uses floor(value*100) so the double sum is
    integer-exact on both engines."""
    import tempfile

    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    dim = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    enriched = (
        _with_ts_cols(stream)
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_nationkey", "event_type", "value")
    )
    out_dir = tempfile.mkdtemp(prefix="nna_stream_join_")
    q = (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/data")
        .option("checkpointLocation", f"{out_dir}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sunk = spark.read.parquet(f"{out_dir}/data")
    return sunk.groupBy("c_nationkey", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.floor(F.col("value") * 100)).alias("value_cents"),
    )


def q_stream_locf_parity(spark, sf):
    """EXACT streaming forward-fill (streaming/stateful.py:
    streaming_forward_fill): values arrive with deterministic gaps
    (kept only when event_id % 4 = 0) and every key's rows BUFFER in
    state until the watermark passes its last activity, then flush in
    event-time LOCF order — so out-of-order arrival inside the horizon
    cannot produce a stale fill, unlike emit-immediately streaming
    fills. Two far-future sentinel segments advance the lagging
    watermark so every key flushes; the sink is then hash-checked
    against the batch LOCF oracle."""
    import os
    import tempfile
    import time

    from nnanalytics_spark.streaming.stateful import streaming_forward_fill

    # every row crosses Python state and the sink — a quarter of the
    # users exercises the operator identically at a quarter of the
    # harness cost (the parity is about semantics, not throughput)
    ev = (
        _events(spark, sf)
        .filter(F.col("user_id") % 4 == 0)
        .select(
            "user_id",
            "event_id",
            "ts_ms",
            F.when(F.col("event_id") % 4 == 0, F.col("value")).alias("value"),
        )
    )
    max_ts = ev.agg(F.max("ts_ms")).collect()[0][0]
    if max_ts is None:
        # empty event log: no segments, no stream — typed empty parity
        return spark.createDataFrame(
            [], "event_id long, user_id long, value double, value_filled double"
        )
    seg_dir = tempfile.mkdtemp(prefix="nna_locf_seg_")
    schema = "user_id long, event_id long, ts_ms long, value double"

    def _sentinel(uid: int, ts: int) -> DataFrame:
        # JVM-side literal row: createDataFrame(list) routes through a
        # Python RDD and pays ~5 s of worker spin-up PER WRITE here
        # (measured — it was 2/3 of this query's wall time)
        return spark.range(1).select(
            F.lit(uid).cast("long").alias("user_id"),
            F.lit(uid).cast("long").alias("event_id"),
            F.lit(ts).cast("long").alias("ts_ms"),
            F.lit(None).cast("double").alias("value"),
        )

    sent1 = _sentinel(-1, max_ts + 10 * 86_400_000)
    sent2 = _sentinel(-2, max_ts + 11 * 86_400_000)
    base_mtime = time.time() - 3600
    for i, seg in enumerate((ev, sent1, sent2)):
        path = f"{seg_dir}/seg{i}"
        seg.coalesce(1).write.parquet(path)
        for name in os.listdir(path):
            os.utime(os.path.join(path, name), (base_mtime + 10 * i,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{seg_dir}/*")
    )
    out_dir = tempfile.mkdtemp(prefix="nna_locf_sink_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            streaming_forward_fill(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{out_dir}/data")
            .option("checkpointLocation", f"{out_dir}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    sunk = spark.read.parquet(f"{out_dir}/data")
    return (
        sunk.filter(F.col("user_id") >= 0)
        .select("event_id", "user_id", "value", "value_filled")
        .orderBy("event_id")
    )


# EWMA smoothing constant shared by q_stream_ewma_parity and its
# oracle; both sides recurse with the SAME two literal doubles
# (repr-interpolated), so every smoothed value is bit-identical.
_EWMA_ALPHA = 0.3
_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3


def q_stream_ewma_parity(spark, sf):
    """Stateful streaming EWMA with batch parity (streaming/stateful.py:
    streaming_ewma): per-user values buffer in state until the watermark
    passes the key's last activity, then flush s_i = a*x_i + (1-a)*s_{i-1}
    in EVENT-TIME order — arrival order inside the horizon cannot change
    the recursion. The sink is hash-checked against a recursive-CTE
    oracle replaying the identical literal-by-literal recursion, plus the
    |x - s_prev| > 50 anomaly flags (the streaming anomaly primitive).
    Same segmented-parquet + far-future-sentinel harness as
    stream_locf_parity; a quarter of the users exercises the operator at
    a quarter of the harness cost."""
    import os
    import tempfile
    import time

    from nnanalytics_spark.streaming.stateful import streaming_ewma

    ev = (
        _events(spark, sf)
        .filter(F.col("user_id") % 4 == 1)
        .select("user_id", "event_id", "ts_ms", "value")
    )
    max_ts = ev.agg(F.max("ts_ms")).collect()[0][0]
    if max_ts is None:
        # empty event log: no segments, no stream — typed empty parity
        return spark.createDataFrame(
            [], "user_id long, event_id long, value double, ewma double, is_anomaly int"
        )
    seg_dir = tempfile.mkdtemp(prefix="nna_ewma_seg_")
    schema = "user_id long, event_id long, ts_ms long, value double"

    def _sentinel(uid: int, ts: int) -> DataFrame:
        return spark.range(1).select(
            F.lit(uid).cast("long").alias("user_id"),
            F.lit(uid).cast("long").alias("event_id"),
            F.lit(ts).cast("long").alias("ts_ms"),
            F.lit(0.0).cast("double").alias("value"),
        )

    sent1 = _sentinel(-1, max_ts + 10 * 86_400_000)
    sent2 = _sentinel(-2, max_ts + 11 * 86_400_000)
    base_mtime = time.time() - 3600
    for i, seg in enumerate((ev, sent1, sent2)):
        path = f"{seg_dir}/seg{i}"
        seg.coalesce(1).write.parquet(path)
        for name in os.listdir(path):
            os.utime(os.path.join(path, name), (base_mtime + 10 * i,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{seg_dir}/*")
    )
    out_dir = tempfile.mkdtemp(prefix="nna_ewma_sink_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            streaming_ewma(stream, alpha=_EWMA_ALPHA)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{out_dir}/data")
            .option("checkpointLocation", f"{out_dir}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    sunk = spark.read.parquet(f"{out_dir}/data")
    # prev_s is NaN on each key's first row (vs the oracle's NULL) —
    # fold it into the anomaly flag instead of emitting it raw
    return (
        sunk.filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            "event_id",
            "value",
            F.round("ewma", 6).alias("ewma"),
            F.when(
                F.abs(F.col("value") - F.col("prev_s")) > 50, 1
            ).otherwise(0).cast("int").alias("is_anomaly"),
        )
        .orderBy("event_id")
    )


def q_stream_holt_parity(spark, sf):
    """Stateful streaming Holt level+trend with batch parity
    (streaming/stateful.py:streaming_holt): the streaming twin of
    holt_forecast — EWMA tracks a level, Holt also tracks its slope, so
    a climbing metric doesn't read as a permanent anomaly. Per-user
    values buffer until the watermark passes, then flush the
    (l, b) recursion in EVENT-TIME order; the sink is hash-checked
    against a recursive-CTE oracle replaying the identical
    literal-by-literal chain. Same segmented-parquet +
    far-future-sentinel harness as stream_ewma_parity; %4==2 users."""
    import os
    import tempfile
    import time

    from nnanalytics_spark.streaming.stateful import streaming_holt

    ev = (
        _events(spark, sf)
        .filter(F.col("user_id") % 4 == 2)
        .select("user_id", "event_id", "ts_ms", "value")
    )
    max_ts = ev.agg(F.max("ts_ms")).collect()[0][0]
    if max_ts is None:
        # empty event log: no segments, no stream — typed empty parity
        return spark.createDataFrame(
            [], "user_id long, event_id long, value double, level double, trend double"
        )
    seg_dir = tempfile.mkdtemp(prefix="nna_holt_seg_")
    schema = "user_id long, event_id long, ts_ms long, value double"

    def _sentinel(uid: int, ts: int) -> DataFrame:
        return spark.range(1).select(
            F.lit(uid).cast("long").alias("user_id"),
            F.lit(uid).cast("long").alias("event_id"),
            F.lit(ts).cast("long").alias("ts_ms"),
            F.lit(0.0).cast("double").alias("value"),
        )

    sent1 = _sentinel(-1, max_ts + 10 * 86_400_000)
    sent2 = _sentinel(-2, max_ts + 11 * 86_400_000)
    base_mtime = time.time() - 3600
    for i, seg in enumerate((ev, sent1, sent2)):
        path = f"{seg_dir}/seg{i}"
        seg.coalesce(1).write.parquet(path)
        for name in os.listdir(path):
            os.utime(os.path.join(path, name), (base_mtime + 10 * i,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{seg_dir}/*")
    )
    out_dir = tempfile.mkdtemp(prefix="nna_holt_sink_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            streaming_holt(stream, alpha=_HOLT_ALPHA, beta=_HOLT_BETA)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{out_dir}/data")
            .option("checkpointLocation", f"{out_dir}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    sunk = spark.read.parquet(f"{out_dir}/data")
    return (
        sunk.filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            "event_id",
            "value",
            F.round("level", 6).alias("level"),
            F.round("trend", 6).alias("trend"),
        )
        .orderBy("event_id")
    )


def q_sweep_roundtrip(spark, sf):
    """run_sweep persistence round-trip (§2.9 cache sink analog,
    suggestions.py:213): the periodic sweep writes every cached report as
    parquet; reading quotaReport back must reproduce the in-memory
    computation — the oracle is the SAME SQL as quota_report, so this row
    hash-checks the written artifact, not just the plan."""
    import tempfile

    from nnanalytics_spark.inode import suggestions

    out_dir = tempfile.mkdtemp(prefix="nna_sweep_")
    suggestions.run_sweep(_inodes(spark, sf), NOW_MS, output_dir=out_dir)
    return spark.read.parquet(f"{out_dir}/quotaReport")


def q_history_roundtrip(spark, sf):
    """History sink round-trip (§2.1/§2.9 — the HSQL `history` analog,
    suggestions.py:229): TWO sweeps at pinned timestamps append to the
    history table; reading it back must reproduce both sweeps'
    file-scalar metrics with their sweepTs. The oracle recomputes the
    battery closed-form from part for both `now` values, so the hash
    pins the append-only persistence AND the now-relative arithmetic.
    (fileSize = floor(p_retailprice) keeps every file in the tiny/small
    classes; emptyFiles pins the zero class.)"""
    import tempfile

    from nnanalytics_spark.inode import suggestions

    out_dir = tempfile.mkdtemp(prefix="nna_hist_")
    ino = _inodes(spark, sf)
    suggestions.run_sweep(ino, NOW_MS, output_dir=out_dir)
    suggestions.run_sweep(ino, NOW_MS + 7 * 86_400_000, output_dir=out_dir)
    return (
        spark.read.parquet(f"{out_dir}/history")
        .select(
            "sweepTs",
            "numFiles",
            "emptyFiles",
            "tinyFiles",
            "smallFiles",
            "oldFiles1yr",
            "oldFiles2yr",
            "totalDiskspace",
        )
        .orderBy("sweepTs")
    )


def q_changelog_upsert(spark, sf):
    """Edit-log tailing end-to-end (§2.1, testUpdateSeen shape,
    TestWithMiniClusterBase.java:207-228): two deterministic change-log
    segments (deletes / attribute-rewrite upserts / brand-new files)
    stream through the REAL ChangeLogTailer (streaming/refresh.py) and the
    folded snapshot is aggregated per owner. The oracle reproduces the
    post-merge namespace closed-form from part, so the hash pins the
    anti-join+union MERGE semantics. Segments are conflict-free across
    ids, so the result is identical however micro-batches split."""
    import tempfile

    from pyspark.sql import types as T

    from nnanalytics_spark.streaming.refresh import ChangeLogTailer

    base = _inodes(spark, sf)
    files = base.filter(F.col("type") == "file")
    pk = F.col("id") - 1_000_000
    seg1 = (
        files.filter(pk % 10 == 0).withColumn("op", F.lit("delete"))
    ).unionByName(
        files.filter(pk % 10 == 1)
        .withColumn("fileSize", 2 * F.col("fileSize"))
        .withColumn("op", F.lit("add"))
    )
    seg2 = (
        files.filter(pk % 10 == 3).withColumn("op", F.lit("delete"))
    ).unionByName(
        files.filter(pk % 10 == 2)
        # pk reads the CURRENT id column — derive everything before the
        # id rewrite shifts it. The fresh-id offset must clear the WHOLE
        # base id space (pk + 1e6), not add another 1e6 — at sf >= 5
        # p_partkey exceeds 1e6 and a +1e6 fresh id would collide with a
        # real file's id, silently deleting an unrelated row in the MERGE.
        .withColumn("path", F.concat(F.lit("/fresh/part_"), pk.cast("string")))
        .withColumn("fileSize", pk.cast("long"))
        .withColumn("id", F.col("id") + 10_000_000_000)
        .withColumn("user", F.lit("fresh"))
        .withColumn("op", F.lit("add"))
    )
    log_dir = tempfile.mkdtemp(prefix="nna_changelog_")
    seg1.write.mode("append").parquet(log_dir)
    seg2.write.mode("append").parquet(log_dir)

    log_schema = T.StructType(seg1.schema.fields)
    tailer = ChangeLogTailer(spark, base, log_dir, log_schema)
    tailer.start()
    try:
        tailer.process_all()
    finally:
        tailer.stop()
    return (
        tailer.current.filter(F.col("type") == "file")
        .groupBy("user")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("fileSize").cast("long").alias("sum_size"),
        )
        .orderBy("user")
    )


def q_save_namespace_roundtrip(spark, sf):
    """saveNamespace analog (§2.1, sources/layout.py:write_inode_table):
    persist the namespace in the scale layout — type-partitioned for
    files/dirs partition pruning, range-distributed + sorted by path for
    row-group skipping — then read it back and aggregate per type. The
    oracle reproduces both partitions closed-form, so the hash checks the
    written artifact survives the layout round-trip losslessly."""
    import tempfile

    from nnanalytics_spark.sources import layout

    out_dir = tempfile.mkdtemp(prefix="nna_namespace_")
    ino = _inodes(spark, sf)
    layout.write_inode_table(ino, out_dir, path_partitions=8)
    # explicit read schema: an empty-write sink has no files to infer from
    back = layout.read_inode_table(spark, out_dir, schema=ino.schema)
    return (
        back.groupBy("type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("fileSize").cast("long").alias("sum_size"),
        )
        .orderBy("type")
    )


def q_token_commonness(spark, sf):
    """Corpus-frequency quality signals (pipeline/text.py:token_commonness)
    — the vocabulary half of the CCNet-style LM score, in integer
    arithmetic so the oracle hashes exactly."""
    return text.token_commonness(_t(spark, sf, "documents"))


def q_lexical_cosine(spark, sf):
    """Sparse TF-cosine near-dup pairs over the stop-worded vocabulary
    (pipeline/lexical.py) — the lexical-weighted modality next to set
    Jaccard and embedding cosine; top-20 by similarity."""
    from nnanalytics_spark.pipeline import lexical

    pairs = lexical.lexical_cosine_pairs(
        _t(spark, sf, "documents"), threshold=0.5, max_token_df=100
    )
    return pairs.orderBy(F.col("cos_sim").desc(), "id_a", "id_b").limit(20)


def q_profile_table(spark, sf):
    """One-pass column profiler (core/profile.py): per-column null /
    distinct / range stats over orders in a single shared scan + stack
    unpivot. Float and timestamp columns are pre-cast (decimal / date) so
    min/max render string-identically in both engines."""
    from nnanalytics_spark.core.profile import profile

    o = (
        _t(spark, sf, "orders")
        .withColumn("o_totalprice", F.col("o_totalprice").cast(_DEC))
        .withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    )
    return profile(
        o,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
        # pinned exact: the oracle recomputes true distincts; auto would
        # also pick exact at 6 columns but the gate shouldn't depend on
        # the AUTO_EXACT_MAX_COLS default
        exact_distinct=True,
    )


def q_key_skew(spark, sf):
    """Join-key skew diagnostic (core/profile.py:key_skew) over
    lineitem.l_orderkey — the pre-flight report that picks broadcast vs
    shuffle vs salting for a 100 TB join."""
    from nnanalytics_spark.core.profile import key_skew

    return key_skew(_t(spark, sf, "lineitem"), "l_orderkey")


_BUCKETED_TABLES: dict[tuple[str, str], tuple[str, str]] = {}


def q_bucketed_join(spark, sf):
    """Bucketed co-located join end-to-end (sources/layout.py:
    write_bucketed): both fact tables persisted bucketed+sorted on the
    join key, then joined via the catalog — the exchange that dominates a
    fact-fact join disappears (tests/test_sources.py asserts the
    shuffle-free plan; this row hash-verifies the VALUES the bucketed
    path produces). External-table paths keep data in tempdirs.

    The bucketed tables are written ONCE per (session, sf) and reused on
    later calls — the operator under measurement is the co-located JOIN,
    not the fixture writer (a real deployment buckets at ingest and
    amortizes the write over every subsequent join)."""
    import tempfile

    from nnanalytics_spark.sources import layout

    key = (spark.sparkContext.applicationId, sf)
    if key not in _BUCKETED_TABLES:
        tag = len(_BUCKETED_TABLES)
        li_name, o_name = f"bench_li_bkt_{tag}", f"bench_o_bkt_{tag}"
        li = _t(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice")
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
        d = tempfile.mkdtemp(prefix="nna_bucketed_")
        layout.write_bucketed(li, li_name, "l_orderkey", 8,
                              sort_col="l_orderkey", path=f"{d}/li")
        layout.write_bucketed(o, o_name, "o_orderkey", 8,
                              sort_col="o_orderkey", path=f"{d}/o")
        _BUCKETED_TABLES[key] = (li_name, o_name)
    li_name, o_name = _BUCKETED_TABLES[key]
    j = layout.read_table(spark, li_name).join(
        layout.read_table(spark, o_name),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum("l_extendedprice", "sum_price"),
    )


def q_video_decode(spark, sf):
    """Real VIDEO decode round-trip — the third modality's codec is now
    real, not stubbed: every document's UTF-8 bytes become grayscale DIB
    frames in a standard AVI container (16×8 @ 5 fps, zero-padded last
    frame), and decode_media struct-parses the RIFF back (avih/strh/strf
    headers, '00db' frame chunks, bottom-up row un-flip) —
    codecs.py:encode_avi/decode_avi. Every output column is arithmetic
    in the text's UTF-8 byte length, so the oracle verifies the full
    encode→decode loop cell-for-cell."""
    from nnanalytics_spark.pipeline import multimodal

    d = _t(spark, sf, "documents")
    out = multimodal.decode_media(
        multimodal.videos_from_documents(d, parallelism=_fanout(spark))
    )
    return out.select(
        "media_id", "width", "height", "fps", "n_frames", "duration_ms", "n_data"
    ).orderBy("media_id")


def q_image_resize_decode(spark, sf):
    """Resize-kernel round-trip: even-doc_id PNGs resize through the REAL
    path (decode → numpy nearest-neighbor grid → re-encode,
    multimodal.resize) and decode_media must parse the outputs as valid
    16×16 PNGs. The oracle is closed-form — a decode failure or wrong
    geometry anywhere in the chain breaks the hash."""
    from nnanalytics_spark.pipeline import multimodal

    d = _t(spark, sf, "documents")
    media = multimodal.media_from_documents(d, parallelism=_fanout(spark)).filter(
        F.col("kind") == "image"
    )
    resized = multimodal.resize(media, 16, 16)
    out = multimodal.decode_media(resized)
    return out.select("media_id", "kind", "width", "height", "n_data").orderBy(
        "media_id"
    )


def q_mixture_epochs(spark, sf):
    """Training-mixture upsampling (sampling.py:mixture_upsample):
    src1 at 2.25 epochs (two full copies + a deterministic quarter),
    src2 at 0.5 (the fractional path alone = downsampling), everything
    else at 1.0. Row-level output so the hash pins exactly WHICH rows
    carry the extra epoch."""
    from nnanalytics_spark.pipeline import sampling

    out = sampling.mixture_upsample(
        _t(spark, sf, "documents"), {"src1": 2250, "src2": 500}
    )
    return out.select("doc_id", "source", "copy")


def q_funnel_steps(spark, sf):
    """Ordered funnel over the event log (pipeline/behavior.py:
    funnel_steps): view → click → purchase with STRICT time progression,
    computed as one codegen'd fold per user (no Python, one shuffle).
    The oracle is the classic nested min(ts)-chain SQL — provably the
    same greedy subsequence match."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.funnel_steps(
        _events(spark, sf), ["view", "click", "purchase"]
    )


def q_retention_cohorts(spark, sf):
    """Cohort retention matrix (behavior.py:retention_cohorts): users
    bucketed by first-activity day, distinct-counted per (cohort,
    week offset). Aggregate-then-broadcast-join — the cohort dim never
    shuffles the event log twice. ts derives from the exact ts_us helper
    column so the query survives either events.ts parquet dtype."""
    from nnanalytics_spark.pipeline import behavior

    ev = _events(spark, sf).withColumn("ts_exact", F.timestamp_micros("ts_us"))
    return behavior.retention_cohorts(ev, ts="ts_exact")


def q_bm25_topk(spark, sf):
    """BM25 lexical retrieval (pipeline/retrieval.py:bm25_topk): top-15
    documents for a 3-term query (one rare + two common terms, so idf
    actually orders results). Scores rounded to 6 dp BEFORE the top-k
    sort, so the k-boundary is engine-independent."""
    from nnanalytics_spark.pipeline import retrieval

    return retrieval.bm25_topk(
        _t(spark, sf, "documents"), ["dup", "spark", "merge"], k=15
    )


def q_paragraph_dedup(spark, sf):
    """Paragraph-level exact dedup with corpus rewrite (pipeline/
    dedup.py:paragraph_dedup — the Dolma/RefinedWeb recipe over
    deterministic 16-token chunks): keep each paragraph's globally first
    occurrence, reassemble documents, and hash the rewritten text (md5 —
    the one hash both engines share) so the oracle pins the REWRITE, not
    just the counts."""
    return dedup.paragraph_dedup(_t(spark, sf, "documents"), chunk_words=16)


def q_range_shard_layout(spark, sf):
    """Training-shard layout round-trip (sources/layout.py:
    range_shard_write + verify_shard_layout): events range-sharded and
    sorted by ts_us into 8 files, then AUDITED distributedly — one
    pyarrow task per shard checks intra-file sortedness, a |shards|-row
    reduction checks pairwise range disjointness. The oracle states the
    invariants closed-form (8 shards, all rows, all keys, sorted, no
    overlap)."""
    import tempfile

    from nnanalytics_spark.sources import layout

    out_dir = tempfile.mkdtemp(prefix="nna_shards_")
    ev = _events(spark, sf).select("event_id", "ts_us", "event_type", "value")
    layout.range_shard_write(ev, out_dir, "ts_us", num_shards=8)
    return layout.verify_shard_layout(spark, out_dir, "ts_us")


def q_compaction_roundtrip(spark, sf):
    """Small-file compaction (layout.py:compact_small_files): a 64-file
    toy of the streaming-sink problem coalesced to 4 right-sized files
    WITHOUT a shuffle, then re-aggregated — the hash proves the compacted
    table is row-identical to the source and the file counts landed
    exactly on target."""
    import tempfile

    from nnanalytics_spark.sources import layout

    base = tempfile.mkdtemp(prefix="nna_compact_")
    small, out = f"{base}/small", f"{base}/compact"
    _events(spark, sf).select("event_id", "user_id", "value").repartition(
        64
    ).write.parquet(small)
    before, after = layout.compact_small_files(spark, small, out, target_files=4)
    back = spark.read.parquet(out)
    return back.agg(
        F.lit(before).alias("files_before"),
        F.lit(after).alias("files_after"),
        F.count(F.lit(1)).alias("total_rows"),
        F.count_distinct("event_id").alias("distinct_events"),
        _dsum("value", "sum_value"),
    )


_TPCH_Q17 = """
    SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0, 6) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#1'
      AND p_size <= 10
      AND l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = part.p_partkey
      )
"""


def q_sql_tpch_q17(spark, sf):
    """Correlated scalar subquery (TPC-H Q17 shape), same ANSI string on
    both engines: Catalyst DECORRELATES the per-part avg into an
    aggregate + join instead of a per-row subquery — the plan shape that
    makes this feasible at all on 100 TB. l_quantity is integral, so the
    avg threshold is order-independent in double on both engines."""
    for t in ("lineitem", "part"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q17)


_TPCH_Q18 = """
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_date, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 280
      )
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE),
             o_totalprice
"""


def q_sql_tpch_q18(spark, sf):
    """Large-volume-customer shape (TPC-H Q18): an aggregated HAVING
    subquery feeding an IN — Catalyst plans it as a semi-join of the
    pre-aggregated order totals (shuffles keyed on l_orderkey reused
    across both aggregations), never a nested loop."""
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q18)


_TPCH_Q22 = """
    WITH avgbal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             / count(*) AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment, count(*) AS n_lapsed,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c, avgbal
    WHERE c_acctbal > a
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01'
      )
    GROUP BY c_mktsegment
"""


def q_sql_tpch_q22(spark, sf):
    """Decorrelated NOT EXISTS (TPC-H Q22 shape): high-balance customers
    with no recent orders, per segment. The anti-join's right side is the
    date-filtered orders projection (filter pushed below the join); the
    global-average threshold is a broadcast scalar. Sum-then-divide in
    DECIMAL keeps the threshold bit-identical across engines."""
    for t in ("customer", "orders"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q22)


def q_sample_k_per_group(spark, sf):
    """Fixed-size per-stratum sampling (sampling.py:sample_k_per_group):
    exactly 20 docs per source, ranked by md5(id) so the draw is uniform,
    deterministic, and reproducible in ANY engine (the oracle replays the
    identical row_number window)."""
    from nnanalytics_spark.pipeline import sampling

    return sampling.sample_k_per_group(_t(spark, sf, "documents"), "source", k=20)


def q_inter_event_gaps(spark, sf):
    """Dwell-time profile (behavior.py:inter_event_gaps): per event type,
    count/mean/p50/p90 of the gap between a user's consecutive events of
    that type. One (user, type)-keyed window exchange; integer
    microsecond arithmetic until the final rounded divide."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.inter_event_gaps(_events(spark, sf))


def q_two_stage_distinct(spark, sf):
    """Skew-safe exact distinct (core/aggregates.py:
    exact_distinct_two_stage): distinct users per event type as two hash
    aggregates — map-side combine on (type, user) collapses hot types
    BEFORE the exchange and spreads each type's value set across
    reducers, where count_distinct's Expand plan funnels every hot-group
    value through one task. Expand-free plan asserted in tests."""
    from nnanalytics_spark.core.aggregates import exact_distinct_two_stage

    return exact_distinct_two_stage(
        _events(spark, sf), "event_type", "user_id", alias="n_users"
    )


def q_zone_map_prune(spark, sf):
    """File skip-index end-to-end (layout.py:zone_map + prune_files): the
    event log is range-sharded into 16 files, a footer-only zone map is
    built distributedly, a 10%-of-keyspace range predicate prunes the
    scan list, and the final aggregate reads ONLY the surviving files.
    The oracle computes the same range closed-form over the raw table —
    the hash proves pruned-scan == full-scan — and the pruned flag pins
    that the zone map actually skipped files."""
    import tempfile

    from nnanalytics_spark.sources import layout

    out_dir = tempfile.mkdtemp(prefix="nna_zonemap_")
    ev = _events(spark, sf).select("event_id", "ts_us", "value")
    mn, mx = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    if mn is None:
        # empty event log: nothing to shard, nothing to prune — the
        # same one-row aggregate shape with honest zero/false literals
        return ev.limit(0).agg(
            F.lit(0).alias("n_files_total"),
            F.lit(False).alias("pruned"),
            F.count(F.lit(1)).alias("rows_in_range"),
            _dsum("value", "sum_value"),
        )
    layout.range_shard_write(ev, out_dir, "ts_us", num_shards=16)
    zmap = layout.zone_map(spark, out_dir, "ts_us")
    lo = mn + (mx - mn) * 2 // 5
    hi = mn + (mx - mn) // 2
    files = layout.prune_files(spark, zmap, lo, hi)
    pruned = spark.read.parquet(*files).filter(F.col("ts_us").between(lo, hi))
    return pruned.agg(
        F.lit(16).alias("n_files_total"),
        F.lit(len(files) < 16).alias("pruned"),
        F.count(F.lit(1)).alias("rows_in_range"),
        _dsum("value", "sum_value"),
    )


def q_schema_evolution(spark, sf):
    """Schema-evolution round-trip (layout.py:read_merged_schema): half
    the event log is written with the v1 schema (no event_type), half
    with v2; a mergeSchema read unions the footers so v1 rows surface
    event_type as NULL — tagged '(legacy)' — and the aggregate hashes the
    merged table against the closed-form oracle."""
    import tempfile

    base = tempfile.mkdtemp(prefix="nna_evolve_")
    ev = _events(spark, sf).select("event_id", "event_type", "value")
    ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value").write.parquet(
        f"{base}/v1"
    )
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(f"{base}/v2")
    from nnanalytics_spark.sources import layout

    merged = layout.read_merged_schema(spark, base)
    return (
        merged.groupBy(
            F.coalesce(F.col("event_type"), F.lit("(legacy)")).alias("tag")
        )
        .agg(F.count(F.lit(1)).alias("cnt"), _dsum("value", "sum_value"))
    )


def q_referential_integrity(spark, sf):
    """Referential-integrity audit (core/profile.py:referential_integrity):
    orphan fact rows per fk→pk edge (lineitem→orders, orders→customer) as
    LEFT ANTI joins that read ONE column per side. The clean TPC-H-shaped
    fixture must audit to zero everywhere — and the closed-form oracle
    proves the audit itself, while tests/test_behavior.py proves it
    detects planted orphans."""
    from nnanalytics_spark.core.profile import referential_integrity

    li, o, c = (_t(spark, sf, t) for t in ("lineitem", "orders", "customer"))
    a = referential_integrity(li, o, "l_orderkey", "o_orderkey", "lineitem_orders")
    b = referential_integrity(o, c, "o_custkey", "c_custkey", "orders_customer")
    return a.unionByName(b)


def q_pk_uniqueness(spark, sf):
    """Primary-key uniqueness audit (core/profile.py:pk_uniqueness): one
    hash aggregate per table; duplicate_rows = total − distinct from the
    same pass."""
    from nnanalytics_spark.core.profile import pk_uniqueness

    a = pk_uniqueness(_t(spark, sf, "customer"), "c_custkey", "customer_pk")
    b = pk_uniqueness(_t(spark, sf, "orders"), "o_orderkey", "orders_pk")
    return a.unionByName(b)


def q_incremental_rollup(spark, sf):
    """Incremental aggregate maintenance (core/aggregates.py:
    partial_aggregate + merge_partial_aggregates): the event log arrives
    as three batches (event_id mod 3); each refresh merges the batch's
    partials into a parquet state table — O(|batch| + |keys|) per
    refresh, NEVER a history rescan. After all three merges the state
    must hash-equal the closed-form full-log rollup."""
    import tempfile

    from nnanalytics_spark.core.aggregates import (
        merge_partial_aggregates,
        partial_aggregate,
    )

    base = tempfile.mkdtemp(prefix="nna_rollup_")
    ev = _events(spark, sf).select("event_id", "event_type", "value")
    state = partial_aggregate(ev.filter(F.col("event_id") % 3 == 0), "event_type", "value")
    for i in (1, 2):
        state.write.mode("overwrite").parquet(f"{base}/state{i}")
        stored = spark.read.parquet(f"{base}/state{i}")
        batch = partial_aggregate(
            ev.filter(F.col("event_id") % 3 == i), "event_type", "value"
        )
        state = merge_partial_aggregates(stored, batch, "event_type")
    return state.select(
        "event_type", "cnt", F.col("sum_value").cast("double").alias("sum_value")
    )


def q_hourly_anomalies(spark, sf):
    """Volume-anomaly detection (behavior.py:hourly_anomalies): (type,
    hour) counts, then |z| > 2 hours per type. z derives from exact
    integer moments (n, Σ, Σ²), never a float-accumulating stddev, so
    the boundary filter is bit-identical across engines."""
    from nnanalytics_spark.pipeline import behavior

    ev = _events(spark, sf).withColumn("ts_exact", F.timestamp_micros("ts_us"))
    return behavior.hourly_anomalies(ev, z_threshold=2.0, ts="ts_exact")


def q_event_transitions(spark, sf):
    """First-order behavior transition matrix (behavior.py:
    event_transitions): (prev type → type) counts per user stream with
    deterministic (ts, event_id) ordering, plus each source state's
    outgoing probability."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.event_transitions(_events(spark, sf))


def q_hll_rollup(spark, sf):
    """Incremental DISTINCT maintenance via mergeable HLL sketches
    (core/aggregates.py:hll_partial/merge_hll_partials): three event
    batches fold their per-type sketches through a parquet state table
    (union is the HLL merge), then the final estimate is checked against
    the EXACT distinct — emitted alongside — within the lg_k=14 error
    bound. The oracle pins the exact count and the bound flag; the
    estimate itself is sketch-internal and never hashed."""
    import tempfile

    from nnanalytics_spark.core.aggregates import (
        hll_estimate,
        hll_partial,
        merge_hll_partials,
    )

    base = tempfile.mkdtemp(prefix="nna_hll_")
    ev = _events(spark, sf).select("event_id", "event_type", "user_id")
    state = hll_partial(ev.filter(F.col("event_id") % 3 == 0), "event_type", "user_id")
    for i in (1, 2):
        state.write.mode("overwrite").parquet(f"{base}/state{i}")
        stored = spark.read.parquet(f"{base}/state{i}")
        batch = hll_partial(
            ev.filter(F.col("event_id") % 3 == i), "event_type", "user_id"
        )
        state = merge_hll_partials(stored, batch, "event_type")
    est = hll_estimate(state, "event_type")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= 0.05
        ).alias("within_bound"),
    )


def q_trend_by_group(spark, sf):
    """Per-type least-squares trend of value over time (pipeline/
    stats.py:trend_by_group): slope/intercept/Pearson r from exact
    integer moments (hours since corpus start × value cents), one
    grouped aggregate — drift detection without a window or UDF."""
    from nnanalytics_spark.pipeline import stats

    return stats.trend_by_group(_events(spark, sf))


def q_chi_square(spark, sf):
    """Chi-square independence test (stats.py:chi_square_independence):
    event type × hour-of-day contingency table from one log pass,
    margins via windows over the tiny table, exact integer counts under
    the double statistic."""
    from nnanalytics_spark.pipeline import stats

    return stats.chi_square_independence(_events(spark, sf))


def q_winsorized_stats(spark, sf):
    """Robust per-type summary (stats.py:winsorized_stats): values
    clamped to the group's exact interpolated [p5, p95], then a
    DECIMAL-summed mean — the outlier-resistant twin of the raw mean."""
    from nnanalytics_spark.pipeline import stats

    return stats.winsorized_stats(_events(spark, sf))


_TPCH_Q1 = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))
                    * CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_charge,
           CAST(floor((2 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                              * 1000000 AS BIGINT) + count(*))
                      / (2.0 * count(*))) AS DOUBLE) / 1000000.0 AS avg_qty,
           CAST(floor((2 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                              * 1000000 AS BIGINT) + count(*))
                      / (2.0 * count(*))) AS DOUBLE) / 1000000.0 AS avg_price,
           CAST(floor((2 * CAST(SUM(CAST(l_discount AS DECIMAL(18,2)))
                              * 1000000 AS BIGINT) + count(*))
                      / (2.0 * count(*))) AS DOUBLE) / 1000000.0 AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def q_sql_tpch_q1(spark, sf):
    """The canonical pricing summary (TPC-H Q1) as the same ANSI string
    on both engines: one scan, eight aggregates, all map-side combined.
    Money sums are exact per-factor DECIMAL products; the three averages
    use the tie-free integer-micro round-half-up (floor of an exact
    integer quotient — the quotient is never within 1/(2n) of an integer
    except AT a tie, where it is exactly one), so no decimal→double
    1-ulp difference can flip the 6th decimal at any scale."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_TPCH_Q1)


_TPCH_Q8 = """
    SELECT o_year,
           round(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


def q_sql_tpch_q8(spark, sf):
    """National market share (TPC-H Q8 shape): an 8-relation join graph
    with the nation dim joined TWICE under different roles (customer's
    region gate vs supplier's nationality) — the self-join aliasing +
    join-reorder stress test; every dim broadcasts, only the fact chain
    shuffles. Volume uses the per-factor DECIMAL construction so the
    ratio is tie-free at any scale."""
    for t in ("part", "supplier", "lineitem", "orders", "customer", "nation", "region"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q8)


_TPCH_Q10 = """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND CAST(o_orderdate AS DATE) >= DATE '1996-10-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


def q_sql_tpch_q10(spark, sf):
    """Returned-item reporting (TPC-H Q10 shape): quarter + returnflag
    filters pushed to the scans, customer/nation dims broadcast, top-20
    by revenue as TakeOrdered with the c_custkey tie-break (revenue is
    an exact decimal sum, so the k-boundary is engine-independent)."""
    for t in ("customer", "orders", "lineitem", "nation"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q10)


def q_ngram_diversity(spark, sf):
    """Distinct-n corpus diversity per source (text.py:ngram_diversity,
    Li et al. 2016): distinct bigrams / total bigram occurrences through
    the skew-safe two-stage distinct shape (no Expand)."""
    return text.ngram_diversity(_t(spark, sf, "documents"), n=2)


def q_budget_fill(spark, sf):
    """Per-domain token-budget fill (selection.budget_fill): each
    source spends a 20k-char budget on its own documents in
    deterministic quality order — the doc-selection half of mixture
    planning (temperature_mixture sets budgets, this spends them).
    One window running-sum per domain; the oracle replays the
    identical inclusive-prefix-sum window."""
    from nnanalytics_spark.pipeline import selection

    return selection.budget_fill(_t(spark, sf, "documents"), char_budget=20_000)


def q_matryoshka_eval(spark, sf):
    """Matryoshka truncation fidelity (similarity.matryoshka_eval,
    Kusupati et al. 2022): pairwise cosine on full 64-dim vs the
    16-dim prefix over a fixed probe set — the report that decides
    whether a truncated first-stage ANN index is good enough. Bounded
    broadcast self-join; both cosines rounded before the delta so all
    three doubles are engine-identical."""
    return similarity.matryoshka_eval(
        _t(spark, sf, "embeddings"), trunc_dim=16, max_probe_id=40
    )


def q_tfidf_top_terms(spark, sf):
    """Per-domain top-5 TF-IDF terms (text.tfidf_top_terms): domain-
    level document frequency, integer-TF x decimal-quantized-IDF exact
    scores, (score desc, term) ranking — the corpus characterization
    report. The oracle replays tokenization, IDF quantization, and the
    ranking window bit-for-bit."""
    return text.tfidf_top_terms(_t(spark, sf, "documents"), k=5)


def q_padding_efficiency(spark, sf):
    """Context-window padding-waste report (sampling.padding_efficiency):
    per source, real-vs-padding token ratios for chunk-then-pad (per-doc
    windows) against the greedy-packing lower bound — the numbers that
    justify running pack_sequences. Map-side counts + one grouped sum;
    exact-integer ratios divided in double."""
    from nnanalytics_spark.pipeline import sampling

    return sampling.padding_efficiency(_t(spark, sf, "documents"), max_len=64)


def q_dup_matrix(spark, sf):
    """Cross-source near-duplication matrix: the verified exact-Jaccard
    pairs (>=0.6, the ngram_jaccard_pairs operator) rolled up by
    UNORDERED source pair — the contamination-flow report that tells a
    corpus team WHICH feeds duplicate into which. Pair id join to the
    doc table twice (broadcast — pairs are corpus-small), least/
    greatest normalizes the pair, one grouped count."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_lo", "source_hi")
    )


def q_stream_dedup_parity(spark, sf):
    """Streaming exact-once dedup (the remaining core stateful-streaming
    operator: watermarked dropDuplicates): the event stream arrives
    DOUBLED (two file sources over the same log, unioned — every event
    exactly twice, possibly in different micro-batches), flows through
    ``withWatermark(...).dropDuplicates([id, event-time])``, and lands
    in a parquet sink. The query aggregates the SINK — so the hash
    proves the deduplicated stream on disk equals the batch-distinct
    oracle. State is keyed by (id, time) and evicted by the watermark:
    bounded by the lateness horizon, not the stream length."""
    import tempfile

    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    def _src():
        return (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )

    doubled = _with_ts_cols(_src()).unionByName(_with_ts_cols(_src()))
    deduped = (
        doubled.withColumn("wm", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("wm", "1 hour")
        .dropDuplicates(["event_id", "wm"])
        .select("event_id", "user_id", "event_type", "value")
    )
    out_dir = tempfile.mkdtemp(prefix="nna_stream_dedup_")
    # dropDuplicates keeps one state store per shuffle partition — same
    # fan-out economics as sessionization_parity; pin for the stream
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{out_dir}/data")
            .option("checkpointLocation", f"{out_dir}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    sunk = spark.read.parquet(f"{out_dir}/data")
    return (
        sunk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100)).alias("value_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- TPC-H tail
# Round 5 completes the TPC-H suite: all 22 query SHAPES present (the
# synthetic schema has no partsupp table and no shipmode/container/
# commitdate columns, so q2/q9/q11/q12/q16/q20/q21 keep their structural
# challenge — correlated minima, semi/anti self-joins, nested INs,
# disjunctive join predicates — re-expressed on the available columns;
# every other query is near-verbatim). Shared determinism conventions:
# per-factor DECIMAL money products summed exactly then CAST AS DOUBLE,
# round(x,6) on ratios, integer counts CAST AS BIGINT (DuckDB SUM over
# ints yields HUGEINT which pandas-coerces to float64 — the
# CORRECTNESS_r04 hash-killer), total ORDER BY under every LIMIT.

_TPCH_Q2 = """
    WITH cost AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             min(CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT))
               AS cost_c
      FROM lineitem
      WHERE l_partkey IN (
        SELECT p_partkey FROM part
        WHERE p_size BETWEEN 10 AND 15 AND p_type = 'STANDARD'
      )
      GROUP BY 1, 2
    ),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier, nation, region
      WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
    ),
    ranked AS (
      SELECT pk, cost_c, s_acctbal, s_name, n_name,
             min(cost_c) OVER (PARTITION BY pk) AS best_c
      FROM cost JOIN eu ON sk = s_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, cost_c
    FROM part JOIN ranked ON p_partkey = pk
    WHERE cost_c = best_c
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""


def q_sql_tpch_q2(spark, sf):
    """Minimum-cost-supplier shape (TPC-H Q2): the correlated 'supplier
    with MIN supply cost per part' subquery, decorrelated by Catalyst
    into a per-part min aggregate joined back on equality. No partsupp
    table in the synthetic schema, so unit cost derives from lineitem
    (min price-per-unit in exact integer cents — double arithmetic is
    IEEE-identical across engines, round()ed once). The per-part
    minimum is a WINDOW MIN over the cost aggregation's own shuffle
    key, not a second aggregate joined back — a naive best-cost CTE
    plans the lineitem aggregation TWICE (Spark inlines CTEs), doubling
    the big-table work at 100 TB. The part filter pushes below the
    window via the IN semi-join (the min is per-part, so the filter
    commutes with it); region-filtered supplier dim broadcasts. Total
    ORDER BY under the LIMIT."""
    for t in ("part", "supplier", "lineitem", "nation", "region"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q2)


_TPCH_Q4 = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND CAST(l_shipdate AS DATE) >
              CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


def q_sql_tpch_q4(spark, sf):
    """Order-priority checking (TPC-H Q4): the EXISTS probe plans as a
    LEFT SEMI join on l_orderkey — each order is tested once no matter
    how many late lines it has, so the lineitem side carries only the
    key + the date predicate. 'Late' = shipped >60 days after order
    (the schema has no commit/receipt dates). Quarter filter pushed to
    the orders scan."""
    for t in ("orders", "lineitem"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q4)


_TPCH_Q6 = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


def q_sql_tpch_q6(spark, sf):
    """Forecasting-revenue-change (TPC-H Q6): the pure scan-aggregate —
    one table, three pushed-down range predicates, zero joins, zero
    shuffles past the partial-agg fan-in. The canonical predicate-
    pushdown / codegen benchmark; at 100 TB this is bounded by scan
    bandwidth alone. Discount bounds compare the raw parquet doubles
    (bit-identical in both engines)."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_TPCH_Q6)


_TPCH_Q7 = """
    SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
                                         AND DATE '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


def q_sql_tpch_q7(spark, sf):
    """Volume-shipping (TPC-H Q7): the twice-aliased nation dim under a
    DISJUNCTIVE pair predicate — unlike Q8's conjunctive roles, the OR
    couples the two aliases, so Catalyst keeps it as a join residual on
    two broadcast joins rather than splitting the scan. Fact chain
    shuffles once on each key; nation pairs × year out."""
    for t in ("supplier", "lineitem", "orders", "customer", "nation"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q7)


_TPCH_Q9 = """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))
             - CAST(p_retailprice AS DECIMAL(18,2))
               * CAST(l_quantity AS DECIMAL(18,2))
               * CAST(0.1 AS DECIMAL(2,1)) AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
"""


def q_sql_tpch_q9(spark, sf):
    """Product-type-profit (TPC-H Q9): the LIKE-filtered part dim gates
    the whole join tree (pushed to the part scan, then broadcast), and
    profit is an exact all-DECIMAL expression — the unit-cost surrogate
    is p_retailprice x qty x 0.1 since the schema has no ps_supplycost;
    every factor is cast to DECIMAL BEFORE multiplying so no double
    product ever reaches a decimal cast (the r4 scale-stability rule)."""
    for t in ("part", "supplier", "lineitem", "orders", "nation"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q9)


_TPCH_Q11 = """
    WITH pv AS (
      SELECT l_partkey AS p_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS val
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_3'
      GROUP BY 1
    ),
    tot AS (SELECT SUM(val) AS t, count(*) AS n_parts FROM pv)
    SELECT p_partkey, CAST(val AS DOUBLE) AS value
    FROM pv, tot
    WHERE val * n_parts > t * 2
    ORDER BY value DESC, p_partkey
"""


def q_sql_tpch_q11(spark, sf):
    """Important-stock identification (TPC-H Q11): a HAVING threshold
    that is itself an aggregate over the same derived table — the
    scalar total broadcasts back over the per-part values (one keyed
    shuffle total; Catalyst reuses the pv aggregation for both
    branches via the CTE). The fraction is SCALE-ADAPTIVE — parts
    above twice the MEAN share (TPC-H scales its literal by 1/SF for
    the same reason; a fixed fraction selects zero parts once the
    part count grows 10x). Value stays DECIMAL-exact (decimal x int)
    through the comparison; DOUBLE only on output."""
    for t in ("lineitem", "supplier", "nation"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q11)


_TPCH_Q12 = """
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND CAST(l_shipdate AS DATE) >
          CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
      AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


def q_sql_tpch_q12(spark, sf):
    """Shipping-mode priority split (TPC-H Q12 shape; returnflag plays
    shipmode — the schema has neither shipmode nor receiptdate): the
    conditional two-way count over a join with a cross-table date
    predicate. The shipdate range pushes to the lineitem scan; the
    cross-column lateness predicate evaluates post-join as a residual.
    Counts CAST AS BIGINT to stay HUGEINT-free in the oracle."""
    for t in ("orders", "lineitem"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q12)


_TPCH_Q13 = """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


def q_sql_tpch_q13(spark, sf):
    """Customer-distribution (TPC-H Q13): LEFT OUTER join with a filter
    INSIDE the join condition (it must not become a WHERE — customers
    with zero qualifying orders survive with c_count = 0), then a
    histogram of the per-customer counts. Two aggregations, two keyed
    shuffles; the second input is |customers| rows."""
    for t in ("customer", "orders"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q13)


_TPCH_Q14 = """
    SELECT round(
        100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                              THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                   * CAST(1 - l_discount AS DECIMAL(18,2))
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE),
        6) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'
"""


def q_sql_tpch_q14(spark, sf):
    """Promotion-effect (TPC-H Q14): conditional-over-total revenue
    ratio in one aggregate — both sums share one scan and one
    map-side combine; the month filter reaches the lineitem scan and
    the part dim broadcasts. Same exact-DECIMAL-then-ratio pattern as
    Q8's market share."""
    for t in ("lineitem", "part"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q14)


_TPCH_Q15 = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(18,2))) AS total_revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
"""


def q_sql_tpch_q15(spark, sf):
    """Top-supplier (TPC-H Q15, view folded to a CTE): the max-equality
    against a scalar subquery over the SAME derived table — the
    revenue aggregation computes once, its max broadcasts back as a
    one-row filter. Equality is tie-safe because total_revenue stays
    an exact DECIMAL until output."""
    for t in ("supplier", "lineitem"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q15)


_TPCH_Q16 = """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#12' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_sql_tpch_q16(spark, sf):
    """Parts-supplier-relationship (TPC-H Q16): NOT IN over a scalar
    key set plans as a broadcast NULL-aware anti join (negative-balance
    suppliers play the 'customer complaints' exclusion list); the
    part-attribute filters prune before the join. The distinct count
    is per narrow (brand, type, size) groups, so the Expand stays
    cheap. lineitem stands in for partsupp as the part-supplier
    relation."""
    for t in ("lineitem", "part", "supplier"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q16)


_TPCH_Q19 = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem, part
    WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
           AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
           AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_partkey = l_partkey AND p_brand = 'Brand#14'
           AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
"""


def q_sql_tpch_q19(spark, sf):
    """Discounted-revenue (TPC-H Q19): the disjunctive OR-of-ANDs join
    predicate — Catalyst factors the common p_partkey = l_partkey
    equality out of the disjunction into a hash-join key and keeps the
    brand/size/quantity triples as a post-join residual, instead of
    the nested-loop a naive reading implies. One scalar row out."""
    for t in ("lineitem", "part"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q19)


_TPCH_Q20 = """
    SELECT s_name, s_acctbal
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT ps.sk FROM (
          SELECT l_partkey AS pk, l_suppkey AS sk,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
            AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
          GROUP BY 1, 2
        ) ps
        WHERE ps.pk IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
          AND ps.sq > (
            SELECT SUM(CAST(l_quantity AS DECIMAL(18,2)))
                   * CAST(0.2 AS DECIMAL(2,1))
            FROM lineitem
            WHERE l_partkey = ps.pk
              AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
              AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
          )
      )
      AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
    ORDER BY s_name
"""


def q_sql_tpch_q20(spark, sf):
    """Potential-part-promotion (TPC-H Q20): nested INs with a
    CORRELATED aggregate threshold — suppliers who shipped >20% of a
    red part's annual volume (availqty has no surrogate without
    partsupp). Catalyst decorrelates the per-part total into an
    aggregate joined on pk; both IN probes become semi joins. All
    quantity sums stay DECIMAL through the fraction comparison."""
    for t in ("supplier", "nation", "lineitem", "part"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q20)


_TPCH_Q21 = """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND CAST(l1.l_shipdate AS DATE) >
          CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND CAST(l3.l_shipdate AS DATE) >
              CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
      )
      AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
"""


def q_sql_tpch_q21(spark, sf):
    """Suppliers-who-kept-waiting (TPC-H Q21): the hardest subquery
    shape in the suite — a semi join AND an anti join of lineitem onto
    itself per order, the anti side correlated to the OUTER order's
    date. 'Late' = shipped >60 days after order. Catalyst plans both
    probes as one-shuffle joins keyed on l_orderkey (the same key the
    fact join already shuffles on), so the self-joins add no extra
    exchange of the big table."""
    for t in ("supplier", "lineitem", "orders", "nation"):
        _t(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q21)


def q_pagerank_topk(spark, sf):
    """Integer-exact PageRank (pipeline/graph.py:pagerank — the repo's
    canonical ITERATIVE DataFrame loop, one shuffle per round, lazy
    localCheckpoint lineage cuts) over a closed-form synthetic link
    graph (doc_id -> (doc_id*17 + k*31) mod N for k=1..3), so the oracle
    can rebuild the exact edge list and replay all 5 rounds as chained
    CTEs. Every division is integral on non-negative operands, so
    Spark's truncating DIV and DuckDB's flooring // agree bit-for-bit —
    no float ever reaches the hash. Top 20 nodes by final rank."""
    from nnanalytics_spark.pipeline import graph

    docs = _t(spark, sf, "documents")
    n = docs.count()
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .select("src", ((F.col("src") * 17 + F.col("k") * 31) % n).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ranks = graph.pagerank(edges, iterations=5)
    return ranks.orderBy(F.col("rank_units").desc(), "node").limit(20)


def q_cohens_kappa(spark, sf):
    """Inter-rater agreement (pipeline/stats.py:cohens_kappa) between
    two document auto-labelers — rater A: n_chars >= 150, rater B:
    lang = 'en'. One conditional-aggregate scan builds the 2x2 table;
    kappa's closed rational form is emitted as exact integer micros via
    the +4-shifted integral division (floor == trunc on the shifted
    value), so the statistic itself is hash-stable cross-engine."""
    from nnanalytics_spark.pipeline import stats

    docs = _t(spark, sf, "documents")
    return stats.cohens_kappa(docs, F.col("n_chars") >= 150, F.col("lang") == "en")


def q_token_cooccurrence(spark, sf):
    """Collocation counts (pipeline/lexical.py:token_cooccurrence): the
    exact-count prep for PMI over a broadcast-capped top-40 vocabulary.
    The per-document pair fanout is bounded by C(40, 2) no matter how
    long documents get, and all five emitted columns are integer counts
    — the float PMI formula stays out of the hash on purpose."""
    from nnanalytics_spark.pipeline import lexical

    return lexical.token_cooccurrence(
        _t(spark, sf, "documents"), top_vocab=40, top_pairs=50
    )


def q_pq_report(spark, sf):
    """Product quantization fidelity gate (pipeline/similarity.py:
    pq_train + pq_report, Jegou et al. 2011): 8 subspaces x 16 codewords
    trained on a bounded driver sample, the whole corpus encoded against
    broadcast codebooks in one Arrow-batched map-side pass. The oracle
    pins the bound-check invariant (same pattern as count_min_bound):
    every subspace's PQ reconstruction error beats the 1-codeword
    baseline; the error comparison happens INSIDE Spark so no float
    crosses the engine boundary."""
    emb = _t(spark, sf, "embeddings")
    books = similarity.pq_train(emb, m=8, k=16)
    return similarity.pq_report(emb, books)


def q_bpe_merge_step(spark, sf):
    """One BPE-training counting round (text.bpe_merge_candidates,
    Sennrich et al. 2016): corpus-weighted adjacent character-pair
    counts with the (count desc, a, b) deterministic top-20. The corpus
    collapses to the distinct-word table before any pair fanout, so the
    explode cost is vocabulary- not corpus-bounded. All-integer output;
    the oracle replays word counting, pair explosion, and the ranking
    cut exactly."""
    return text.bpe_merge_candidates(_t(spark, sf, "documents"), k=20)


def q_char_entropy(spark, sf):
    """Per-document character-entropy quality signal
    (text.char_entropy_scores): -sum p ln p in nats with each term
    rounded to DECIMAL(18,6) before the order-free decimal sum (the
    bigram_lm hardening). Top-20 most-entropic docs by (entropy desc,
    doc_id) so the row set is small and the cut deterministic."""
    ent = text.char_entropy_scores(_t(spark, sf, "documents"))
    return ent.orderBy(F.col("entropy_nats").desc(), "doc_id").limit(20)


def q_ngram_novelty(spark, sf):
    """Per-document trigram novelty (text.ngram_novelty): fraction of
    each doc's token-3-gram positions whose corpus-wide first occurrence
    is that doc — the marginal-information view behind crawl
    diminishing-returns curves. One (gram) min-aggregate + one equi-join
    back; hot grams bounded the same way ngram_jaccard bounds shingles."""
    return text.ngram_novelty(_t(spark, sf, "documents"), n=3).orderBy("doc_id")


def q_token_burstiness(spark, sf):
    """Church–Gale token burstiness (text.token_burstiness): mean
    occurrences per containing doc, top-30 — the clumping report that
    sizes n-gram dedup thresholds. DECIMAL-quantized ratio, TakeOrdered
    cut."""
    return text.token_burstiness(_t(spark, sf, "documents"), k=30)


def q_rouge_overlap(spark, sf):
    """ROUGE-1 set overlap on the deterministic even↔odd adjacent
    pairing (text.rouge1_adjacent_pairs): P/R/F1 from one (pair, token)
    equi-join — the eval-leakage scoring kernel with an exact SQL twin."""
    return text.rouge1_adjacent_pairs(_t(spark, sf, "documents")).orderBy("id_a")


def q_vocabulary_growth(spark, sf):
    """Heaps'-law vocabulary growth curve (text.vocabulary_growth):
    cumulative docs / token positions / distinct vocabulary at 10
    equal-width doc-id checkpoints. Cumulative distinct via
    first-occurrence bucketing — no per-checkpoint distinct pass."""
    return text.vocabulary_growth(_t(spark, sf, "documents"), buckets=10)


def q_session_entropy(spark, sf):
    """Per-user Shannon entropy over event types
    (behavior.session_entropy): the bot/diversity score, DECIMAL-summed
    6-dp terms (char_entropy hardening), two keyed aggregates."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.session_entropy(_events(spark, sf)).orderBy("user_id")


def q_mutual_information(spark, sf):
    """Categorical mutual information source×lang over documents
    (stats.mutual_information): MI + both marginal entropies in nats
    from ONE contingency pass — the metadata-dependence audit."""
    from nnanalytics_spark.pipeline import stats

    return stats.mutual_information(_t(spark, sf, "documents"), "source", "lang")


def q_knn_graph(spark, sf):
    """Exact cosine k-NN graph (similarity.knn_graph): block-decomposed
    kernel (rows_per_block=200 forces real multi-block fan-out at gate
    scale) with per-row local top-k and a global per-id window — the
    SemDeDup/recall-eval substrate. Oracle: brute-force window over all
    n² scores."""
    return similarity.knn_graph(
        _t(spark, sf, "embeddings"), k=5, rows_per_block=200
    ).orderBy("vec_id", "rank")


def q_markov_stationary(spark, sf):
    """Stationary distribution of the behavior Markov chain
    (behavior.markov_stationary): distributed transition-matrix
    aggregation, then 20 integer-micros power-iteration steps over the
    driver-bounded |types|x|types| matrix — order-free int64 arithmetic
    the oracle unrolls as 20 chained CTEs, matching bit-for-bit."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.markov_stationary(_events(spark, sf), iters=20).orderBy("state")


def q_snapshot_diff(spark, sf):
    """Namespace snapshot diff (sources/layout.py:snapshot_diff): two
    closed-form binary images (4x25 vs 5x17) load through the protobuf
    reader and diff on path over (fileSize, modTime, user) — one
    full-outer join classifying added/deleted/modified/unchanged. The
    oracle recomputes BOTH namespaces from range() and replays the
    classification; the fixture sizes make all four classes non-empty
    (d=0 files keep identical mtimes -> unchanged; other overlaps shift
    mtime -> modified)."""
    import tempfile

    from nnanalytics_spark.sources import fsimage, layout

    _ship_package(spark)
    tmp = tempfile.mkdtemp(prefix="snapdiff_")
    old_img = fsimage.write_fsimage_binary(tmp + "/old", n_dirs=4, files_per_dir=25)
    new_img = fsimage.write_fsimage_binary(tmp + "/new", n_dirs=5, files_per_dir=17)
    old = fsimage.read_fsimage_binary(spark, old_img, batch=32).filter(
        F.col("type") == "file"
    )
    new = fsimage.read_fsimage_binary(spark, new_img, batch=32).filter(
        F.col("type") == "file"
    )
    return layout.snapshot_diff(
        old, new, key="path", compare=("fileSize", "modTime", "user")
    ).orderBy("path")


def q_funnel_conversion_time(spark, sf):
    """Time-to-convert per funnel step (behavior.funnel_conversion_time):
    mean and exact-interpolated median of (step_i time − first-view
    time) for users who reached the step under the same greedy
    earliest-match as funnel_steps — one keyed min-aggregate per step,
    joined on the user key; the oracle runs the identical nested
    min(ts)-chain."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.funnel_conversion_time(
        _events(spark, sf), ["view", "click", "purchase"]
    ).orderBy("step")


def q_dedup_method_agreement(spark, sf):
    """Lexical-vs-semantic dedup agreement (dedup.pair_set_agreement):
    exact trigram-Jaccard pairs at 0.6 compared with embedding-cosine
    pairs at 0.4 — the method-comparison report behind "can the cheap
    signal approximate the expensive one". One full-outer join of two
    slim pair tables; the oracle recomputes BOTH pair sets from scratch
    and replays the overlap.

    Scale reshape (r8, VERDICT r7 task #4): the semantic side now
    rides similarity.bounded_pairs_above — within-cell pairs under
    pinned stride-centroids UNION the lexical candidates re-scored
    exactly — instead of the exact O(n²) all_pairs_above kernel (11x
    wall at 10x rows on the sf1 probe). The agreement numbers this
    bounds: n_a and n_both are EXACT vs the exact kernel (every lexical
    pair is re-scored), n_b is a lower bound short only of cross-cell
    semantic-only pairs (100%% recall on the test corpus —
    tests/test_r8_ops.py pins bounded == exact at gate scale). Exact
    mode stays an opt-in via all_pairs_above."""
    docs = _t(spark, sf, "documents")
    # lex feeds BOTH the semantic side's candidate set and the final
    # agreement join — the lazy checkpoint runs the inverted-index pair
    # pipeline once instead of twice (triangle_counts pattern)
    lex = (
        dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    sem = similarity.bounded_pairs_above(
        _t(spark, sf, "embeddings"), threshold=0.4, candidate_pairs=lex, stride=200
    ).select("id_a", "id_b")
    return dedup.pair_set_agreement(lex, sem)


def q_forward_fill(spark, sf):
    """Last-observation-carried-forward (behavior.forward_fill): values
    are deterministically nulled (kept only when event_id % 3 = 0), then
    each NULL takes the user's most recent earlier observation — one
    user-keyed window; rows before any observation stay NULL. The
    oracle replays the null-out and the IGNORE NULLS window."""
    from nnanalytics_spark.pipeline import behavior

    e = _events(spark, sf).withColumn(
        "value", F.when(F.col("event_id") % 3 == 0, F.col("value"))
    )
    return behavior.forward_fill(e).select(
        "event_id", "user_id", "value", "value_filled"
    ).orderBy("event_id")


def q_hard_negatives(spark, sf):
    """Hard-negative mining (similarity.hard_negatives): each vector's
    top-5 nearest OTHER-labeled neighbors — the contrastive-training
    staple, via the same block-decomposed local-top-k kernel as
    knn_graph with the label mask applied inside the numpy block.
    rows_per_block=200 forces real multi-block fan-out at gate scale."""
    return similarity.hard_negatives(
        _t(spark, sf, "embeddings"), k=5, rows_per_block=200
    ).orderBy("vec_id", "rank")


def q_embedding_dim_stats(spark, sf):
    """Per-dimension embedding mean/variance (similarity.dim_stats) —
    the dead/collapsed-dimension detector. One posexplode + one keyed
    aggregate over 9-dp DECIMAL moments."""
    return similarity.dim_stats(_t(spark, sf, "embeddings"))


def q_embedding_anisotropy(spark, sf):
    """Mean pairwise cosine WITHOUT pairs (similarity.anisotropy):
    (‖Σu‖² − n) / (n(n−1)) over unit vectors — one aggregate of
    per-dimension sums, any scale. The oracle replays the identity."""
    return similarity.anisotropy(_t(spark, sf, "embeddings"))


def q_training_order(spark, sf):
    """Deterministic epoch shuffle (sampling.training_order): every doc
    gets a (shard, position) from the overflow-safe Knuth hash offset by
    the epoch — the reproducible permutation a corpus layout bakes in so
    readers never pay a read-time sort. Per-shard row_number window,
    never a global sort; the oracle replays the modular arithmetic."""
    from nnanalytics_spark.pipeline import sampling

    d = _t(spark, sf, "documents").select("doc_id")
    return sampling.training_order(d, shards=8, epoch=1).orderBy("shard", "position")


def q_video_scene_change(spark, sf):
    """Frame-to-frame scene-change intensity (multimodal.scene_change):
    mean |frame[i+1] − frame[i]| over decoded AVI frames — the
    static-clip / shot-boundary signal a video curation pass runs before
    frame sampling. Payloads decode inside mapInPandas (never shuffled);
    the deterministic 16x8 frame construction makes every number
    arithmetic in the text's code points, HALF-UP-quantized identically
    on both engines."""
    from nnanalytics_spark.pipeline import multimodal

    d = _t(spark, sf, "documents")
    vids = multimodal.videos_from_documents(d, parallelism=_fanout(spark))
    return multimodal.scene_change(vids).orderBy("media_id")


def q_zipf_slope(spark, sf):
    """Corpus Zipf-fit diagnostic (stats.zipf_slope): OLS of ln(count)
    on ln(rank) over the top-500 vocabulary, moments summed as exact
    decimals of 9-dp-quantized logs — one tokenize pass, a distributed
    TakeOrdered vocabulary cut, and a one-row moment aggregate. The
    oracle replays the full fit including the quantization."""
    from nnanalytics_spark.pipeline import stats

    return stats.zipf_slope(_t(spark, sf, "documents"), top_n=500)


def q_quantile_rollup(spark, sf):
    """Incremental QUANTILE maintenance (core/aggregates.py:
    quantile_partial + merge_quantile_partials + bucket_quantiles) —
    the percentile analog of incremental_rollup/hll_rollup: the event
    log arrives as three batches; each refresh folds a fixed-width
    histogram into parquet state (count addition per (key, bucket) —
    O(|batch|+|state|), never a history rescan); p50/p99 read out of
    the state as exact bucket upper edges. After all three merges the
    state's quantiles must hash-equal the closed-form full-log
    histogram quantiles the oracle computes."""
    import tempfile

    from nnanalytics_spark.core.aggregates import (
        bucket_quantiles,
        merge_quantile_partials,
        quantile_partial,
    )

    base = tempfile.mkdtemp(prefix="nna_qstate_")
    ev = _events(spark, sf).select("event_id", "event_type", "value")
    state = quantile_partial(
        ev.filter(F.col("event_id") % 3 == 0), "event_type", "value", width=5.0
    )
    for i in (1, 2):
        state.write.mode("overwrite").parquet(f"{base}/state{i}")
        stored = spark.read.parquet(f"{base}/state{i}")
        batch = quantile_partial(
            ev.filter(F.col("event_id") % 3 == i), "event_type", "value", width=5.0
        )
        state = merge_quantile_partials(stored, batch, "event_type")
    return bucket_quantiles(state, "event_type", qs=(0.5, 0.99), width=5.0)


def q_stream_rollup_parity(spark, sf):
    """Streaming INCREMENTAL VIEW MAINTENANCE (foreachBatch + the
    mergeable partials of core/aggregates.py): the event log is split
    into three files and streamed one file per micro-batch; each batch
    folds its partial_aggregate into a parquet state table via
    merge_partial_aggregates — the canonical 'keep a 100 TB rollup
    fresh from a stream without rescanning history' pattern
    (readStream -> foreachBatch -> state merge, O(|batch|+|keys|) per
    trigger). The final state must hash-equal the closed-form full-log
    rollup. Merge order across micro-batches is irrelevant by
    construction (counts + DECIMAL sums), which is exactly the property
    that makes the pattern safe under redelivery."""
    import tempfile

    from nnanalytics_spark.core.aggregates import (
        merge_partial_aggregates,
        partial_aggregate,
    )

    base = tempfile.mkdtemp(prefix="nna_stream_rollup_")
    ev = _events(spark, sf).select("event_id", "event_type", "value")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/batch{i}")
    src_schema = spark.read.parquet(f"{base}/in/batch0").schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in/batch*")
    )
    state = {"path": None, "version": 0}

    def fold(batch_df, _batch_id):
        agg = partial_aggregate(batch_df, "event_type", "value")
        if state["path"] is not None:
            stored = batch_df.sparkSession.read.parquet(state["path"])
            agg = merge_partial_aggregates(stored, agg, "event_type")
        state["version"] += 1
        new_path = f"{base}/state_v{state['version']}"
        agg.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{base}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.read.parquet(state["path"])
    return final.select(
        "event_type", "cnt", F.col("sum_value").cast("double").alias("sum_value")
    )


def q_stream_stream_join_parity(spark, sf):
    """STREAM-STREAM interval join (the attribution shape: each purchase
    joins every click by the same user in the preceding hour), the one
    core Structured Streaming join surface the parity suite didn't yet
    pin (dedup, stream-static join, windowed agg, sessionization, and
    foreachBatch rollup all are). Two watermarked streams over the same
    log; the time-range predicate lets Spark bound BOTH state stores by
    the lateness horizon + range span instead of buffering streams
    forever. The joined rows land in a parquet sink and the query
    aggregates the SINK, so the hash covers the streamed join output on
    disk against the closed-form batch join the oracle replays with
    exact millisecond arithmetic."""
    import tempfile

    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema

    def _src():
        return (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )

    clicks = (
        _with_ts_cols(_src())
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.timestamp_millis(F.col("ts_ms")).alias("cts"),
        )
        .withWatermark("cts", "1 hour")
    )
    purchases = (
        _with_ts_cols(_src())
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("value").alias("p_value"),
            F.timestamp_millis(F.col("ts_ms")).alias("pts"),
        )
        .withWatermark("pts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND cts >= pts - INTERVAL 1 HOUR AND cts <= pts"
        ),
        "inner",
    ).select("p_id", "p_user", "p_value")
    out_dir = tempfile.mkdtemp(prefix="nna_ss_join_")
    # stream-stream joins keep one state store PER SIDE per shuffle
    # partition, captured at stream start — the sessionization_parity
    # pinning, doubled in weight here (measured 6.1 s -> the pin is the
    # difference between 64 and 16 state stores + Arrow workers)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{out_dir}/data")
            .option("checkpointLocation", f"{out_dir}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    sunk = spark.read.parquet(f"{out_dir}/data")
    return sunk.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("p_id").alias("n_purchases"),
        F.countDistinct("p_user").alias("n_users"),
        F.sum(F.floor(F.col("p_value") * 100)).alias("pair_value_cents"),
    )


def q_audio_rms_features(spark, sf):
    """AUDIO feature extraction promoted to hash-checked (completing the
    modality set: PNG histogram went in r4, video metadata in r3): the
    per-segment RMS that codecs.wav_features computes over decoded PCM
    is SQL-predictable because the WAV samples are exactly the
    document's ASCII bytes — the oracle replays np.array_split's
    first-(n mod 8)-segments-get-one-extra partitioning and the
    sqrt(mean((c-128)^2))/128 arithmetic from character codes. Integer
    segment sums are order-free, so the doubles agree bit-for-bit."""
    from nnanalytics_spark.pipeline import multimodal

    d = _t(spark, sf, "documents")
    media = multimodal.media_from_documents(d, parallelism=_fanout(spark)).filter(
        F.col("kind") == "audio"
    )
    out = multimodal.extract_features(media)
    return out.select(
        "media_id",
        *[F.round(F.element_at("feature", i + 1), 6).alias(f"rms{i}") for i in range(8)],
    )


def q_tokenizer_fertility(spark, sf):
    """Tokenizer fertility per source (text.tokenizer_fertility):
    chars/word, chars/subword, subwords-per-word from exact integer
    sums in one scan + one grouped sum — the cost diagnostic that says
    which sources the tokenizer fragments."""
    return text.tokenizer_fertility(_t(spark, sf, "documents"))


def q_doc_length_histogram(spark, sf):
    """Power-of-two token-length histogram per source
    (text.doc_length_histogram): bucket = floor(log2(tokens)) via
    integer binary-string length, so boundaries are exact on any
    engine; exposes truncation and fragment mass."""
    return text.doc_length_histogram(_t(spark, sf, "documents"))


def q_cooccurrence_lift(spark, sf):
    """Event-type association inside (user, hour) baskets
    (behavior.cooccurrence_lift): support counts + lift from exact
    integers — the basket-analysis/collocation primitive on event
    logs. Distinct-type baskets collapse the log first, pair fanout is
    C(|types|,2) per basket, marginals broadcast. Oracle replays
    baskets, the guarded pair explosion, and the lift arithmetic."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.cooccurrence_lift(_events(spark, sf), window_hours=1)


def q_growth_accounting(spark, sf):
    """Weekly growth accounting (behavior.growth_accounting): new /
    returning / resurrected decomposition + cumulative user base from
    exact date integers — per-user lag windows over |user,week| rows,
    weekly rollup, running-new window over |weeks| rows."""
    from nnanalytics_spark.pipeline import behavior

    # ts_exact, not raw ts: on the legacy TIMESTAMP(NANOS)-as-long
    # variant a bare cast('timestamp') reads nanos as SECONDS (the same
    # trap retention_cohorts/hourly_anomalies already route around)
    ev = _events(spark, sf).withColumn("ts_exact", F.timestamp_micros(F.col("ts_us")))
    return behavior.growth_accounting(ev, ts="ts_exact")


def q_path_ngrams(spark, sf):
    """Top-20 user-journey trigrams (behavior.path_ngrams): the n-1
    lead() windows share one key-partitioned sort, incomplete tail
    windows drop map-side, and the |types|^n path table takes a
    deterministic (count desc, path) TakeOrdered cut. Oracle replays
    the ordering, window tail semantics, and the cut."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.path_ngrams(_events(spark, sf), n=3, k=20)


def q_triangle_counts(spark, sf):
    """Triangle participation per node (graph.triangle_counts) over the
    exact near-dup pair graph (ngram Jaccard >= 0.6): the clique-density
    diagnostic that says whether transitive dedup clustering is safe.
    Oriented wedge construction finds each a<b<c exactly once via two
    vertex-keyed equi-joins; the oracle replays edges, wedges, and the
    closing probe."""
    from nnanalytics_spark.pipeline import graph

    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
    # triangle_counts references the edge list THREE times (e1, e2,
    # closing probe) on different join keys, so without a lineage cut
    # the whole shingle-index + Jaccard pipeline re-executes 3x — the
    # dup_clusters/resample localCheckpoint pattern
    edges = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    return graph.triangle_counts(edges).orderBy("node")


def q_scd2_intervals(spark, sf):
    """SCD type-2 reconstruction (behavior.scd2_intervals): per-user
    event-type validity intervals via the gaps-and-islands rank
    difference — two windows sharing one exchange+sort, lead() over
    |intervals| rows, NULL-open current interval. Top-200 by
    (user, valid_from) for a bounded deterministic row set."""
    from nnanalytics_spark.pipeline import behavior

    iv = behavior.scd2_intervals(_events(spark, sf))
    return iv.orderBy("user_id", "valid_from_us", "event_type").limit(200)


def q_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement
    (sampling.weighted_sample_k, Efraimidis-Spirakis A-ES): top-5 docs
    per source with probability proportional to n_chars, rand()-free —
    u from the Knuth id hash, key = ln(u)/w rounded to 9 dp with id
    tie-break. The oracle replays hash, key, and the per-group cut."""
    from nnanalytics_spark.pipeline import sampling

    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    # weight passed as the RAW long column: the w > 0 guard then pushes
    # to the parquet scan (a cast-to-double weight blocked pushdown —
    # caught by planlint); ln(u)/w division double-izes by itself
    return sampling.weighted_sample_k(
        d, k=5, weight=F.col("n_chars"), group_col="source"
    )


def q_quantile_normalize(spark, sf):
    """Rank-based per-source score normalization
    (sampling.quantile_normalize): n_chars mapped to the exact
    (rank-1)/(n-1) uniform within each source with deterministic
    (value, id) tie ordering — the primitive that makes heterogeneous
    quality scores comparable before mixing."""
    from nnanalytics_spark.pipeline import sampling

    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return sampling.quantile_normalize(d, "n_chars")


def q_pivot_matrix(spark, sf):
    """Native pivot crosstab (behavior.pivot_counts): hour-of-day x
    event-type count matrix in ONE hash aggregate (pinned pivot values
    keep it single-pass and schema-deterministic). The oracle is the
    classic conditional-aggregation twin."""
    from nnanalytics_spark.pipeline import behavior

    ev = _events(spark, sf).withColumn(
        "hod", (F.floor(F.col("ts_us") / 3_600_000_000) % 24).cast("long")
    )
    return behavior.pivot_counts(
        ev, "hod", "event_type", ["click", "error", "purchase", "signup", "view"]
    )


def q_resample_hourly(spark, sf):
    """Dense zero-filled hourly series per type (behavior.
    resample_hourly): sequence-exploded hour spine x distinct groups,
    observed counts LEFT-joined on — the resample every trend consumer
    needs before lag arithmetic. Oracle: generate_series twin."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.resample_hourly(_events(spark, sf))


def q_ks_test(spark, sf):
    """Two-sample Kolmogorov-Smirnov drift statistic (stats.ks_two_sample)
    between click and purchase value distributions: D as an EXACT integer
    fraction (max |cum_a*n_b - cum_b*n_a|, n_a*n_b) plus its IEEE double
    quotient — the bit-stable form of an ECDF sup that a float
    subtraction can't give. One keyed count + a prefix-sum window over
    the bounded cents grid."""
    from nnanalytics_spark.pipeline import stats

    return stats.ks_two_sample(_events(spark, sf))


def q_ks_test_grid(spark, sf):
    """ks_two_sample's fixed-grid mode (VERDICT r5 #5): values coarsen to
    5-unit buckets (grid_cents=500) BEFORE the prefix-sum window, capping
    the window input at |domain|/grid rows no matter how continuous the
    metric — the scale-safe path for unbounded value domains. The emitted
    D is exactly the KS of the bucket-quantized distributions (sup over
    bucket boundaries = sup over the quantized line), which the oracle
    recomputes on the same grid."""
    from nnanalytics_spark.pipeline import stats

    return stats.ks_two_sample(_events(spark, sf), grid_cents=500)


def q_edit_distance_pairs(spark, sf):
    """Candidate near-dups verified by EXACT thresholded edit distance
    (dedup.edit_distance_pairs): rare-shingle candidates -> length-band
    prefilter -> levenshtein with early-exit threshold 32. Both engines
    implement classic Levenshtein natively, so the verified distances
    hash-match exactly — character-level ground truth the set-based
    Jaccard queries can't see. Top-50 by (dist, id_a, id_b)."""
    return dedup.edit_distance_pairs(
        _t(spark, sf, "documents"), max_dist=32, n=2, max_shingle_df=100
    ).limit(50)


def q_partition_prune(spark, sf):
    """Hive-style directory partitioning round-trip (layout.py:
    write_partitioned + read_partition_pruned): events written
    partitioned by event_type, one partition read back with an equality
    predicate. pruned_scan is computed from the ACTUAL file list the
    scan resolved (every surviving file must live under
    event_type=click/), so a planner that stopped pruning reds the row;
    the aggregate must match the closed-form answer on the raw table."""
    import tempfile

    from nnanalytics_spark.sources import layout

    base = tempfile.mkdtemp(prefix="nna_part_")
    ev = _events(spark, sf).select("event_id", "event_type", "value")
    layout.write_partitioned(ev, base, "event_type")
    # explicit read schema: an empty-write sink has no files to infer from
    pruned = layout.read_partition_pruned(spark, base, schema=ev.schema, event_type="click")
    # inputFiles() reports the relation BEFORE partition pruning, so the
    # honest signal is the physical scan: directory pruning shows up as
    # a PartitionFilters entry on the FileScan (a broken partitioned
    # read would surface event_type as a data column + PushedFilters).
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    ok = any("click" in ln for ln in scan_lines)
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("value") * 100)).alias("value_cents"),
        F.lit(ok).alias("pruned_scan"),
    )


# --- r6b additions: retrieval fusion, privacy audits, layout planning,
# CDC merge, containment dedup, seasonality/decay scoring ---


def q_containment_pairs(spark, sf):
    """ASYMMETRIC n-gram containment pairs (dedup.containment_pairs):
    C(A→B)=|A∩B|/|A| — catches a short doc wholly embedded in a longer
    one, which Jaccard dilutes below any usable threshold. Same
    inverted-shingle-index plan as ngram_jaccard_pairs."""
    return dedup.containment_pairs(
        _t(spark, sf, "documents"), n=3, threshold=0.5
    )


def q_rrf_fusion(spark, sf):
    """Reciprocal-rank fusion (retrieval.rrf_fuse) of two dense rankings
    (cosine vs vec 0 and vs vec 1 — the multi-vector query-expansion
    shape). Contributions are INTEGER picos floor(1e12/(60+rank)), so the
    fused sum is order-free and the oracle replays it exactly."""
    from nnanalytics_spark.pipeline import retrieval, similarity

    emb = _t(spark, sf, "embeddings")
    r0 = similarity.brute_force_topk(emb, _qvec(emb, 0), k=50)
    r1 = similarity.brute_force_topk(emb, _qvec(emb, 1), k=50)
    return retrieval.rrf_fuse(
        [r0.withColumnRenamed("cos_sim", "score"), r1.withColumnRenamed("cos_sim", "score")],
        id_col="vec_id",
        k_const=60,
        topk=15,
    )


def q_mmr_rerank(spark, sf):
    """Maximal-marginal-relevance rerank (retrieval.mmr_rerank): top-24
    cosine candidates for vec 0 diversified to 6 picks at λ=0.7. The
    greedy loop runs as ONE bounded-pool applyInPandas task; the oracle
    unrolls the 6 argmax steps as chained CTEs over the same rounded
    scores, pinning the pick sequence exactly."""
    from nnanalytics_spark.pipeline import retrieval, similarity

    emb = _t(spark, sf, "embeddings")
    pool = (
        similarity.brute_force_topk(emb.filter(F.col("vec_id") != 0), _qvec(emb, 0), k=24)
        .withColumnRenamed("cos_sim", "rel")
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    return retrieval.mmr_rerank(pool, k=6, lam=0.7)


def q_k_anonymity(spark, sf):
    """k-anonymity audit summary (privacy.k_anonymity_summary) over the
    quasi-identifier (user_id, event_type): total classes, sub-k classes,
    rows at risk, achieved k. Two chained hash aggregates."""
    from nnanalytics_spark.pipeline import privacy

    return privacy.k_anonymity_summary(
        _events(spark, sf), ["user_id", "event_type"], k=5
    )


def q_l_diversity(spark, sf):
    """Distinct-l-diversity violations (privacy.l_diversity_violations):
    QI=(user_id, event_type, utc_day), sensitive = value-cents mod 10 —
    classes where every event shares the sensitive bucket leak it even
    under k-anonymity. Aggregated to per-event_type violation counts so
    the audit row set stays bounded."""
    from nnanalytics_spark.pipeline import privacy

    ev = _events(spark, sf).select(
        "user_id",
        "event_type",
        F.expr("ts_ms div 86400000").alias("utc_day"),
        (F.floor(F.col("value") * 100) % 10).alias("sens"),
    )
    v = privacy.l_diversity_violations(
        ev, ["user_id", "event_type", "utc_day"], "sens", l_threshold=2
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("violating_classes"),
        F.sum("class_size").alias("rows_at_risk"),
    )


def q_seasonal_index(spark, sf):
    """Hour-of-week seasonal index per event type (behavior.
    seasonal_index): cell mean / group mean in ppm, all-integer
    arithmetic (sums of cents × counts in DECIMAL), calendar fields from
    epoch-millis division — engine-exact by construction."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.seasonal_index(_events(spark, sf))


def q_time_decay(spark, sf):
    """Per-user dyadic time-decay engagement score (behavior.
    time_decay_scores): Σ cents·2^(40−age_days) — exact integers, so the
    hash aggregate is order-free; the scale factor 2^40 divides out
    downstream."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.time_decay_scores(_events(spark, sf), horizon_days=40)


def q_zorder_layout(spark, sf):
    """Z-order (Morton) clustering audit (layout.zorder_layout_stats):
    events bucketed onto a 256×256 (user_id, value-cents) grid with
    FIXED domain bounds, Morton-interleaved, cut into 16 equal-width
    z-range shards; per shard the row count and min/max extents on both
    dimensions — exactly the zone-map inputs that make two-column
    pruning work where a linear sort only prunes one. Bit arithmetic is
    codegen-portable (shiftright/AND as sum of disjoint powers)."""
    from nnanalytics_spark.sources import layout

    ev = _events(spark, sf).withColumn("cents", F.floor(F.col("value") * 100))
    return layout.zorder_layout_stats(
        ev, x="user_id", y="cents", x_max=2000.0, y_max=60000.0, bits=8, shards=16
    )


def q_cdc_merge(spark, sf):
    """Batch CDC merge (streaming/refresh.py:compact_changelog +
    apply_compacted_changelog): a deterministic 3-segment changelog over
    the orders snapshot — seq1 re-prices %10==3, seq2 deletes %20==3
    (latest-wins overrides half of seg 1), seq2 re-prices %10==7, plus
    seq3 brand-new rows for %1000==1 — compacted to net effects with ONE
    max_by aggregate and applied via anti-join + union. The result is
    aggregated per order-status so the merged 150k-row table pins to a
    compact hash row set."""
    from nnanalytics_spark.streaming.refresh import apply_compacted_changelog

    o = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("cust"),
        F.floor(F.col("o_totalprice") * 100).alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    seg1 = (
        o.filter(F.col("id") % 10 == 3)
        .withColumn("cents", F.col("cents") + 100000)
        .withColumn("op", F.lit("upsert"))
        .withColumn("seq", F.lit(1))
    )
    seg2d = (
        o.filter(F.col("id") % 20 == 3)
        .withColumn("op", F.lit("delete"))
        .withColumn("seq", F.lit(2))
    )
    seg2u = (
        o.filter(F.col("id") % 10 == 7)
        .withColumn("cents", F.col("cents") * 2)
        .withColumn("op", F.lit("upsert"))
        .withColumn("seq", F.lit(2))
    )
    seg3 = (
        o.filter(F.col("id") % 1000 == 1)
        .withColumn("id", F.col("id") + 10_000_000)
        .withColumn("status", F.lit("N"))
        .withColumn("op", F.lit("upsert"))
        .withColumn("seq", F.lit(3))
    )
    log = seg1.unionByName(seg2d).unionByName(seg2u).unionByName(seg3)
    merged = apply_compacted_changelog(o, log, key="id", seq="seq", op="op")
    return merged.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        F.sum("id").alias("id_checksum"),
    )


def q_psi_drift(spark, sf):
    """Population-stability-index drift report (stats.psi_drift): value
    distribution of the time range's first half vs second half over
    fixed cent buckets, Laplace-smoothed, per-bucket (p−q)·ln(p/q) terms
    rounded to 6 dp. One scan → 12-cell aggregate → broadcast totals."""
    from nnanalytics_spark.pipeline import stats

    return stats.psi_drift(_events(spark, sf))


def q_span_corruption(spark, sf):
    """T5-style span-corruption accounting (text.span_corruption_stats):
    masked-span/sentinel/EOS length bookkeeping in closed form from the
    token count — no per-token explode, so it scans like text_tokens."""
    return text.span_corruption_stats(_t(spark, sf, "documents"))


def q_ann_recall(spark, sf):
    """Recall@10 of 8-bit hyperplane-LSH retrieval vs exact brute force
    for the pinned probe set vec_id<10 (similarity.lsh_recall_eval):
    ground truth via the distributed batch_topk fan-in, LSH side via a
    broadcast signature probe-join. The oracle replays the hyperplane
    constants (same injected table as ann_lsh_pairs) and both top-k
    cuts, pinning recall AND bucket fan-in exactly."""
    return similarity.lsh_recall_eval(
        _t(spark, sf, "embeddings"), n_queries=10, k=10, bits=8, dim=64
    )


def q_knn_label_eval(spark, sf):
    """Leave-one-out k-NN label agreement (similarity.knn_label_eval):
    per-label accuracy of majority-vote classification by the 5 nearest
    neighbors — the embedding-quality probe, under a 1000-anchor eval
    budget (r9: the unbounded probe rode the n² kernel, 20.4x wall at
    10x rows; a fixed holdout judged EXACTLY against the full corpus is
    the honest 100 TB eval shape, and at the sf0.01 oracle scale the
    corpus is smaller than the budget so the report equals the
    unbounded one). anchored_topk broadcast-matmul scan + one vote
    aggregate + one max_by (no window sort); oracle replays the graph,
    votes, and the (votes desc, label asc) pick."""
    return similarity.knn_label_eval(
        _t(spark, sf, "embeddings"), k=5, max_anchors=1000
    )


def q_lateness_report(spark, sf):
    """Event-time lateness histogram in arrival order (behavior.
    lateness_report) — the watermark-horizon planning number: how far
    each event's time lags the running max already ingested for its
    user. One per-user window + a 5-row aggregate. The synthetic log is
    ts-ordered by construction (lateness would be uniformly zero), so
    the query simulates a hash-shuffled ingest: arrival sequence =
    Knuth-hashed event id — deterministic, engine-replayable, and it
    exercises every lateness bucket."""
    from nnanalytics_spark.pipeline import behavior

    ev = _events(spark, sf).withColumn(
        "arrival", (F.col("event_id") * 2654435761) % (2**32)
    )
    return behavior.lateness_report(ev, arrival="arrival")


def q_multi_touch(spark, sf):
    """Linear multi-touch attribution (behavior.multi_touch_attribution):
    each purchase's credit splits equally (integer ppm / cents, div) over
    the user's click/view touches in the preceding 7 days — user-keyed
    equi-join with a residual time window, never a cross-user range
    join."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.multi_touch_attribution(_events(spark, sf))


def q_rfm_scores(spark, sf):
    """RFM segmentation (behavior.rfm_scores): per-user recency/
    frequency/monetary quintile scores from FIVE scalar percentile
    boundaries (one aggregate, broadcast CASE) — not an ntile window
    over all users, which is the one-task trap at corpus scale."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.rfm_scores(_events(spark, sf))


def q_split_leakage(spark, sf):
    """Train/test split leakage audit (dedup.split_leakage): near-dup
    pairs straddling a deterministic 80/20 hash split, per split-pair
    cell — the QA number the cluster-aware splitter exists to zero. The
    pair leg is the audited inverted-index Jaccard plan; labels join on
    the id."""
    return dedup.split_leakage(
        _t(spark, sf, "documents"), n=3, threshold=0.6, test_permille=200
    )


def q_pit_features(spark, sf):
    """Point-in-time-correct feature join (behavior.
    point_in_time_features): one training example per purchase, features
    from the user's STRICTLY-prior 7-day activity — the feature-store
    no-leakage contract. User-keyed self-join with residual time bounds;
    all-integer features."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.point_in_time_features(_events(spark, sf))


def q_phrase_search(spark, sf):
    """Exact phrase forensics (text.phrase_occurrences): per matching doc
    the non-overlapping occurrence count and first-hit token offset for a
    2-token probe phrase, over whitespace-normalized case-folded text —
    the verify/report leg of a contamination investigation."""
    return text.phrase_occurrences(_t(spark, sf, "documents"), "table value")


def q_eval_coverage(spark, sf):
    """Benchmark n-gram coverage (dedup.eval_ngram_coverage): per pseudo
    eval doc (doc_id % 50 == 0), the fraction of its distinct 3-grams
    present anywhere in the remaining corpus — the aggregate
    memorization-risk view beside the pairwise contamination scan.
    Corpus gram set distinct ONCE; eval side left-semi joins in."""
    docs = _t(spark, sf, "documents")
    return dedup.eval_ngram_coverage(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        n=3,
    )


def q_link_negatives(spark, sf):
    """Contrastive pair construction (similarity.link_negatives): 3
    near neighbors as positives + 3 hash-corrupted negatives per
    anchor, accidental hits anti-joined out — rand()-free and
    engine-replayable down to the corrupt-tail arithmetic.

    Scale reshape (r8, VERDICT r7 task #2): positives now come from
    method="cell" — similarity.cell_knn's pinned-centroid cell-bounded
    kNN (n/stride centroids, Σ|cell|² ≈ stride·n pair work, linear at
    fixed stride) instead of knn_graph's exact n² kernel, which the
    sf1 probe measured at 12.5x wall for 10x rows. Cell-local
    approximate neighbors are the standard contrastive-mining
    contract; the oracle replays centroid pinning, round-6 top-2
    multi-probe assignment (cell_knn's r9 nprobe=2 default — 100%
    edge recall vs exact kNN at sf0.01, vs 44.7% single-probe), and
    the within-cell ranking exactly."""
    return similarity.link_negatives(
        _t(spark, sf, "embeddings"), k_pos=3, k_neg=3, method="cell", stride=200
    )


# Fellegi–Sunter field models shared by q_record_linkage and its oracle:
# the m/u probabilities are MODEL PARAMETERS (literals), so both engines
# score with the exact same doubles — repr() round-trips them losslessly
# into the SQL text.
_FS_FIELDS = [
    # (name, m, u): segment agreement is informative (5 segments), the
    # floor-banded balance is the strongest signal, the sign is weak.
    ("segment", 0.9, 0.2),
    ("bal_band", 0.7, 0.05),
    ("bal_sign", 0.95, 0.5),
]

# (agree, disagree) log2 weights; repr() round-trips doubles losslessly,
# so the oracle's literals are bit-identical to the Spark side's.
_FS_WEIGHTS = {
    name: (_math.log2(m / u), _math.log2((1 - m) / (1 - u)))
    for name, m, u in _FS_FIELDS
}


def q_bloom_prune_join(spark, sf):
    """Bloom-pruned fact join (core/joins.py:bloom_prune_join): the
    supplier keys for nations 0-2 are sketched into a 64 Kib bloom
    bitmap (ONE bounded aggregate, ≤1024 longs collected — constant in
    data size), the lineitem scan is pre-filtered by the literal-array
    membership predicate INSIDE codegen before the join exchange, and
    the exact equi-join removes the false positives. No false negatives
    by construction, so the result EQUALS the plain join the oracle
    runs — at 100 TB the exchange carries the selectivity, not the
    table."""
    from nnanalytics_spark.core import joins

    li = _t(spark, sf, "lineitem")
    dim = _t(spark, sf, "supplier").filter(F.col("s_nationkey") < 3)
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC)
    return (
        joins.bloom_prune_join(li, dim, "l_suppkey", "s_suppkey")
        .groupBy("s_nationkey")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _fs_fields(linkage):
    """The shared Fellegi–Sunter field models (predicates over the
    a_/b_-prefixed pair frame) used by record_linkage,
    linkage_decisions, and entity_resolution."""
    return [
        linkage.FieldModel(
            "segment",
            F.col("a_c_mktsegment") == F.col("b_c_mktsegment"),
            *_FS_FIELDS[0][1:],
        ),
        linkage.FieldModel(
            "bal_band",
            F.abs(
                F.floor(F.col("a_c_acctbal")) - F.floor(F.col("b_c_acctbal"))
            )
            <= 100,
            *_FS_FIELDS[1][1:],
        ),
        linkage.FieldModel(
            "bal_sign",
            (F.col("a_c_acctbal") >= 0) == (F.col("b_c_acctbal") >= 0),
            *_FS_FIELDS[2][1:],
        ),
    ]


def q_record_linkage(spark, sf):
    """Blocked Fellegi–Sunter record linkage, MATCHES ONLY — the
    flagship scale-safe shape (pipeline/linkage.py; VERDICT r7 task
    #2): even-key customers play list A, odd-key customers list B, and
    because a match at upper=2.0 REQUIRES segment AND bal_band
    agreement (best score with either disagreeing is 1.74), blocking
    on (nation, segment, balance band) is LOSSLESS for the match set —
    the |floor diff| <= 100 proximity predicate becomes band width 101
    with side A replicated to bands b-1..b+1, so every qualifying pair
    lands in exactly one replica's band. Candidates stay linear in the
    corpus (the r7 sf1 probe measured the nation-only variant at 60.8x
    wall / 100x rows for 10x input; entity_resolution's identical
    reshape runs 1.3x). Field weights are literal log2(m/u) doubles
    summed inside the join stage's codegen. The oracle replays the
    UNBLOCKED nation join + the same literal CASE arithmetic with the
    match cut — equality proves the blocking lossless. The full
    match/possible/nonmatch decision distribution survives as
    q_linkage_decisions over an explicitly bounded input."""
    from nnanalytics_spark.pipeline import linkage

    c = _t(spark, sf, "customer")
    band = F.floor(F.floor(F.col("c_acctbal")) / F.lit(101)).cast("long")
    a = (
        c.filter(F.col("c_custkey") % 2 == 0)
        .withColumn("_band0", band)
        .withColumn("_off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("_band", F.col("_band0") + F.col("_off"))
        .drop("_band0", "_off")
    )
    b = c.filter(F.col("c_custkey") % 2 == 1).withColumn("_band", band)
    out = linkage.linkage_pairs(
        a,
        b,
        ["c_nationkey", "c_mktsegment", "_band"],
        _fs_fields(linkage),
        id_col="c_custkey",
        upper=2.0,
        lower=0.0,
    )
    return out.filter(F.col("decision") == "match")


def q_linkage_decisions(spark, sf):
    """Full Fellegi–Sunter decision-distribution exhibit over an
    EXPLICITLY BOUNDED input (VERDICT r7 task #2's second half): the
    500 smallest even / odd custkeys per side (sort+limit — the pair
    space is capped at 250k regardless of corpus size), nation-blocked
    candidates, and one aggregate row per decision with exact
    order-free tallies (counts + DECIMAL score sum). This is the
    diagnostic a linkage model owner reads to set thresholds; the
    scored-pair export at corpus scale is q_record_linkage's
    lossless-blocked match set."""
    from nnanalytics_spark.pipeline import linkage

    c = _t(spark, sf, "customer")
    a = c.filter(F.col("c_custkey") % 2 == 0).orderBy("c_custkey").limit(500)
    b = c.filter(F.col("c_custkey") % 2 == 1).orderBy("c_custkey").limit(500)
    out = linkage.linkage_pairs(
        a,
        b,
        ["c_nationkey"],
        _fs_fields(linkage),
        id_col="c_custkey",
        upper=2.0,
        lower=0.0,
    )
    return out.groupBy("decision").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("agree_segment").cast("long")).alias("n_agree_segment"),
        F.sum(F.col("agree_bal_band").cast("long")).alias("n_agree_bal_band"),
        F.sum(F.col("agree_bal_sign").cast("long")).alias("n_agree_bal_sign"),
        F.sum(F.col("score").cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_score"),
    )


def q_skyline_frontier(spark, sf):
    """Per-brand Pareto frontier over (minimize retailprice, maximize
    size) — stats.skyline's level-collapse + brand-partitioned
    prefix-max plan, n log n per group. The oracle is the textbook
    O(n²) NOT-EXISTS dominance self-join; equality of the two is the
    whole point (ties on both axes stay on the frontier in both)."""
    from nnanalytics_spark.pipeline import stats

    return stats.skyline(
        _t(spark, sf, "part"),
        minimize="p_retailprice",
        maximize="p_size",
        group_cols=["p_brand"],
        id_col="p_partkey",
    )


# Pinned two-term eval queries for q_ndcg_eval (terms from the synthetic
# corpus vocabulary); rel = # distinct terms present, gain = 2^rel - 1.
_NDCG_QUERIES = [
    ("join", "window"),
    ("scan", "filter"),
    ("hash", "table"),
    ("spark", "query"),
    ("agg", "column"),
]
_NDCG_K = 10
# 1/log2(rank+1) discount literals shared with the oracle (repr()
# round-trips — no engine libm involved in the discount).
_NDCG_DISCOUNTS = [1.0 / _math.log2(i + 1) for i in range(1, _NDCG_K + 1)]


def q_ndcg_eval(spark, sf):
    """NDCG@10 per pinned term-pair query (pipeline/retrieval.py:
    ndcg_at_k): one corpus scan computes every query's term frequencies
    (the per-query judged rows explode from an array built in a single
    projection), candidates are docs with at least one term (gain-0
    rows contribute nothing to either sum, so the ranking windows see
    candidate lists, not the corpus), score = summed tf, graded gain =
    2^rel - 1. Literal discounts + DECIMAL-quantized per-rank terms
    make both sums order-free; the oracle replays rank, ideal rank, and
    the same arithmetic."""
    from nnanalytics_spark.pipeline import retrieval
    from nnanalytics_spark.pipeline.text import tokens as _tokens

    # fan the single-split scan out before the per-doc tf computation
    # (profiled: 1.59 s single-task stage — the array-filter tf terms ×
    # query pairs ran on one core; ~600 KB of text shuffles, and every
    # downstream sum/rank is order-free/deterministically tie-broken)
    d = _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = _tokens(F.col("text"))

    def tf(term):
        # one-arg lambda only: F.filter treats a second parameter as the
        # element INDEX, silently comparing tokens to integers
        lit = F.lit(term)
        return F.size(F.filter(toks, lambda x: x == lit))

    judged = (
        d.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f"{t1} {t2}").alias("query"),
                            (tf(t1) + tf(t2)).alias("score"),
                            (
                                (tf(t1) > 0).cast("int")
                                + (tf(t2) > 0).cast("int")
                            ).alias("rel"),
                        )
                        for t1, t2 in _NDCG_QUERIES
                    ]
                )
            ).alias("j"),
        )
        .select("doc_id", "j.query", "j.score", "j.rel")
        .filter(F.col("rel") > 0)
        .withColumn("gain", F.when(F.col("rel") == 2, 3).otherwise(1))
    )
    return retrieval.ndcg_at_k(judged, k=_NDCG_K)


def q_prefix_filter_pairs(spark, sf):
    """Lossless PPJoin prefix filtering (pipeline/dedup.py:
    prefix_filter_pairs): word-set Jaccard >= 0.8 over a 1-in-5 doc
    subset, candidates generated ONLY from each doc's rarest
    (|x| - floor(0.8|x|) + 1) tokens. The oracle brute-forces the same
    pairs through an unfiltered shared-token join — equality of the two
    result sets is the prefix theorem's recall proof, the same
    blocked-equals-bruteforce contract simhash_pairs pins."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return dedup.prefix_filter_pairs(d, threshold=0.8)


def q_data_contract(spark, sf):
    """Declarative data-contract suite (core/profile.py:contract_check):
    five named violation predicates over orders, ALL evaluated in one
    shared-scan aggregate (adding a rule adds a column, not a pass),
    unpivoted to one row per rule. Contracts fail closed: a NULL
    predicate result counts as a violation."""
    from nnanalytics_spark.core import profile

    o = _t(spark, sf, "orders")
    rules = [
        ("totalprice_positive", F.col("o_totalprice") <= 0),
        ("orderdate_not_null", F.col("o_orderdate").isNull()),
        ("status_in_domain", ~F.col("o_orderstatus").isin("O", "F", "P")),
        ("priority_has_rank", ~F.col("o_orderpriority").rlike(r"^[1-5]-")),
        ("custkey_positive", F.col("o_custkey") <= 0),
    ]
    return profile.contract_check(o, rules)


def q_mad_outliers(spark, sf):
    """Robust per-group outlier report (stats.mad_outliers): exact
    median + MAD per return flag, modified z-score 0.6745(x-med)/MAD,
    outliers = |z| > 3.5 (Iglewicz-Hoaglin). Centers round to 6 before
    scoring so both engines count against identical pins."""
    from nnanalytics_spark.pipeline import stats

    return stats.mad_outliers(
        _t(spark, sf, "lineitem"), "l_extendedprice", ["l_returnflag"]
    )


def q_emd_drift(spark, sf):
    """1-D earth mover's distance between click-event and other-event
    value distributions (stats.emd_1d): the closed-form Wasserstein-1
    over width-5 buckets — drift magnitude where KS gives only the sup
    and PSI only log-ratios. Bucket grid is domain-bounded after the
    one grouped count; per-bucket terms DECIMAL-quantized."""
    from nnanalytics_spark.pipeline import stats

    e = _events(spark, sf)
    return stats.emd_1d(e, "value", F.col("event_type") == "click", bucket_width=5.0)


def q_gini_concentration(spark, sf):
    """Gini coefficient of event value per event type (stats.
    gini_by_group): integer-cents quantization, DECIMAL(38,0)
    accumulators (rank*cents products pass int64 at corpus scale), one
    group-partitioned ranking window with (cents, event_id) tiebreak so
    both engines rank — and therefore sum — identically."""
    from nnanalytics_spark.pipeline import stats

    e = _events(spark, sf)
    return stats.gini_by_group(e, "value", ["event_type"], id_col="event_id")


def q_benford_audit(spark, sf):
    """First-digit Benford screen over order totals (stats.
    benford_audit): digit from the integer part's decimal string (no
    float log10 edge cases), observed vs literal expected shares, and
    the per-digit chi-square deviation term."""
    from nnanalytics_spark.pipeline import stats

    return stats.benford_audit(_t(spark, sf, "orders"), "o_totalprice")


# Pinned DiD cutover: 2024-01-16T00:00Z, the midpoint of the events
# table's January-2024 span.
_DID_CUTOVER_MS = 1_705_363_200_000


def q_jaccard_threshold_sweep(spark, sf):
    """Dedup threshold-selection sweep: pair counts at Jaccard >= 0.5
    … 0.9 from ONE pair computation (dedup.prefix_filter_pairs at the
    loosest threshold, then five conditional counts) — the curve a
    curation run reads before committing to a dedup cutoff, at the
    cost of a single candidate generation instead of five."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    pairs = dedup.prefix_filter_pairs(d, threshold=0.5)
    return pairs.agg(
        *[
            F.sum((F.col("jaccard") >= F.lit(t)).cast("int")).alias(
                f"ge_{int(round(t * 100))}"
            )
            for t in (0.5, 0.6, 0.7, 0.8, 0.9)
        ]
    )


# Stopword list for the calibration probe's deterministic "classifier"
# — shared literal between the Spark side and the oracle.
_CAL_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def q_calibration_bins(spark, sf):
    """Classifier calibration / reliability bins (stats.
    calibration_bins): a deterministic probe classifier (stopword
    fraction as the 'probability' that a doc contains >= 2 'the'
    tokens) is binned into ten confidence buckets; per bin the mean
    confidence, observed accuracy, and N-weighted ECE term. The eval
    every score-thresholded corpus filter needs before trusting its
    cutoff; predictions quantize to DECIMAL so bin means are
    order-free."""
    from nnanalytics_spark.pipeline import stats
    from nnanalytics_spark.pipeline.text import tokens as _tokens

    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _CAL_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_the = F.size(F.filter(toks, lambda x: x == F.lit("the")))
    scored = d.filter(F.size(toks) > 0).select(
        F.round(n_stop / F.size(toks), 9).alias("p"),
        (n_the >= 2).cast("int").alias("y"),
    )
    return stats.calibration_bins(scored, "p", "y", bins=10)


def q_classifier_auc(spark, sf):
    """Exact tie-aware ROC-AUC (stats.classifier_auc — Mann-Whitney
    formulation) of the same probe classifier calibration_bins audits
    (stopword fraction scoring "doc contains >= 2 'the'"): one grouped
    pass to per-distinct-score counts, a bounded-grid cumulative
    window, and a single integer-exact division. Completes the
    filter-model eval family: calibration says whether the
    probabilities are honest, AUC whether the ranking works at any
    threshold."""
    from nnanalytics_spark.pipeline import stats
    from nnanalytics_spark.pipeline.text import tokens as _tokens

    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _CAL_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_the = F.size(F.filter(toks, lambda x: x == F.lit("the")))
    scored = d.filter(F.size(toks) > 0).select(
        F.round(n_stop / F.size(toks), 9).alias("p"),
        (n_the >= 2).cast("int").alias("y"),
    )
    return stats.classifier_auc(scored, "p", "y")


def q_t_closeness(spark, sf):
    """t-closeness audit (privacy.t_closeness_violations) — the
    escalation past q_l_diversity's distinct-l check: classes whose
    sensitive-value DISTRIBUTION sits more than t=0.25 total-variation
    away from the table's leak even when l-diverse. QI =
    (event_type, utc_day), sensitive = value-cents mod 10; aggregated
    per event_type (violations, rows at risk, worst distance) so the
    audit stays bounded. All distribution arithmetic is 9-dp DECIMAL
    until the final halving, so the distances are engine-exact."""
    from nnanalytics_spark.pipeline import privacy

    ev = _events(spark, sf).select(
        "event_type",
        F.expr("ts_ms div 86400000").alias("utc_day"),
        (F.floor(F.col("value") * 100) % 10).alias("sens"),
    )
    v = privacy.t_closeness_violations(
        ev, ["event_type", "utc_day"], "sens", t=0.25
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("violating_classes"),
        F.sum("class_size").alias("rows_at_risk"),
        F.max("t_distance").alias("max_t_distance"),
    )


def q_interval_overlap(spark, sf):
    """Keyed interval-overlap join (core/joins.py:interval_overlap_join):
    each view/click event spawns an activity window
    [ts_ms, ts_ms + value·10000 ms]; the report finds every same-user
    (view, click) pair whose windows overlap and sums concurrent time
    per user. Banded-equi-join plan — intervals replicate to the
    1-hour bands they touch (window ≤ 82 min ⇒ ≤3 bands each), the join is a plain (user, band)
    equi-join in codegen, and the band-ownership rule (pair counted
    only in the overlap-start band) dedups with zero extra exchanges.
    The oracle brute-forces the per-user non-equi join; equality is the
    banding's losslessness proof."""
    from nnanalytics_spark.core import joins

    ev = _events(spark, sf).select(
        "user_id",
        "event_type",
        F.col("event_id"),
        F.col("ts_ms").alias("s"),
        (F.col("ts_ms") + F.floor(F.col("value") * 10000).cast("long")).alias("e"),
    )
    a = ev.filter(F.col("event_type") == "view").select("user_id", F.col("event_id"), "s", "e")
    b = ev.filter(F.col("event_type") == "click").select("user_id", F.col("event_id"), "s", "e")
    pairs = joins.interval_overlap_join(
        a, b, ["user_id"], "s", "e", "s", "e", band_width=3_600_000
    )
    overlap = F.least(F.col("a_e"), F.col("b_e")) - F.greatest(
        F.col("a_s"), F.col("b_s")
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(overlap).alias("overlap_ms"),
    )


def q_bootstrap_ci(spark, sf):
    """Poisson-bootstrap percentile CI for mean(o_totalprice)
    (stats.bootstrap_ci — Chamandy et al. 2012): 100 replicates, each
    row drawing a deterministic Poisson(1) weight per replicate from
    the Knuth-hash uniform pushed through literal inverse-CDF
    thresholds. THE bootstrap that survives 100 TB: one map-side pass
    ×B, a B-row aggregate, no global resample. rand()-free, so the
    oracle replays every weight and both interval endpoints exactly."""
    from nnanalytics_spark.pipeline import stats

    return stats.bootstrap_ci(
        _t(spark, sf, "orders"), "o_totalprice", "o_orderkey", replicates=100
    )


def q_cuped(spark, sf):
    """CUPED variance reduction (stats.cuped_adjustment — Deng et al.
    WSDM'13): per user, even-UTC-days value plays the pre-period
    covariate X and odd-days value the experiment metric Y; the report
    is θ = cov/var and the variance-reduction factor the adjustment
    buys. One DECIMAL moment pass over per-user sums."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf).select(
        "user_id",
        F.when(F.expr("ts_ms div 86400000") % 2 == 1, F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("y"),
        F.when(F.expr("ts_ms div 86400000") % 2 == 0, F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("x"),
    )
    return stats.cuped_adjustment(ev, "y", "x", "user_id")


def q_conformal_threshold(spark, sf):
    """Split-conformal calibration (stats.conformal_threshold): per-type
    mean value fit on the calibration split (event_id % 5 != 0) plays
    the point predictor, nonconformity = |value − fit|, and the report
    returns the finite-sample-corrected ⌈(n+1)(1−α)⌉ threshold plus the
    REALIZED coverage on the held-out fifth — the distribution-free
    guarantee checked, not assumed. Completes the eval-confidence
    family (calibration_bins → classifier_auc → conformal). DECIMAL
    means + round-9 scores keep both engines' rank arithmetic
    identical."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf).select(
        "event_type", "value", (F.col("event_id") % 5 != 0).alias("cal")
    )
    dec = "decimal(18,9)"
    cm = (
        ev.filter("cal")
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.round(F.col("value"), 9).cast(dec)).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("m")
        )
    )
    scored = ev.join(F.broadcast(cm), "event_type").select(
        F.round(F.abs(F.col("value") - F.col("m")), 9).alias("score"), "cal"
    )
    return stats.conformal_threshold(scored, "score", "cal", alpha=0.1)


def q_jackknife_ratio(spark, sf):
    """Delete-one-user jackknife CI for revenue-per-event
    (stats.jackknife_ratio_ci): num = purchase value, den = 1 per
    event, units = users — the ratio-metric standard error a naive
    row-level variance gets wrong because a user's rows correlate.
    Closed-form leave-one-out replicates from broadcast totals; one
    per-user aggregate, no resampling loop."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf).select(
        "user_id",
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("num"),
        F.lit(1.0).alias("den"),
    )
    return stats.jackknife_ratio_ci(ev, "num", "den", "user_id")


def q_capture_recapture(spark, sf):
    """Chapman capture-recapture estimate of the true near-dup pair
    population (dedup.capture_recapture): the lexical and semantic
    detectors from dedup_method_agreement play the two capture
    occasions, and N̂ = (n1+1)(n2+1)/(m+1) − 1 prices how many pairs
    BOTH methods missed — the follow-up question the agreement report
    begs. Slim pair-table join + closed-form arithmetic; independence
    caveat documented (lexical vs embedding signals are as independent
    as this corpus offers)."""
    docs = _t(spark, sf, "documents")
    # lex feeds BOTH capture occasions' overlap join and the semantic
    # candidate set — checkpoint so the pair pipeline runs once
    lex = (
        dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    sem = similarity.bounded_pairs_above(
        _t(spark, sf, "embeddings"), threshold=0.4, candidate_pairs=lex, stride=200
    ).select("id_a", "id_b")
    return dedup.capture_recapture(lex, sem)


def q_source_ablation(spark, sf):
    """Leave-one-source-out quality ablation (sampling.source_ablation):
    per source, the corpus mean quality WITHOUT that source and the
    delta it contributes — the data-valuation read before re-weighting
    a mixture. Closed form from one grouped DECIMAL pass + broadcast
    totals; no per-source rescans."""
    from nnanalytics_spark.pipeline import sampling

    d = _t(spark, sf, "documents")
    toks = text.tokens(F.col("text"))
    scored = d.filter(F.size(toks) > 0).select(
        "source", text.quality_score(F.col("text")).alias("q")
    )
    return sampling.source_ablation(scored, "q")


def q_mde_power(spark, sf):
    """Pre-launch power calculation (stats.mde_power): with the parity
    arms' observed per-USER variance and sizes, the minimum detectable
    effect a two-sided α=0.05 / 80%-power test can see — the "is this
    experiment worth running at this traffic?" answer. Variance over
    per-unit sums (rows within a user correlate), one DECIMAL moment
    pass, closed-form MDE from literal z constants."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf).select(
        "user_id",
        "value",
        F.when(F.col("user_id") % 2 == 0, "treatment")
        .otherwise("control")
        .alias("arm"),
    )
    return stats.mde_power(ev, "value", "user_id", "arm")


def q_msprt_always_valid(spark, sf):
    """Always-valid sequential p-value (stats.msprt_always_valid —
    Johari et al. KDD'17 mSPRT): the per-day monitoring curve that
    tolerates daily peeking, over the parity-arm event stream with a
    pinned plug-in σ². Everything past one (day, arm) log aggregate
    runs on the bounded day grid."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf).select(
        F.expr("ts_ms div 86400000").alias("day"),
        "value",
        F.when(F.col("user_id") % 2 == 0, "treatment")
        .otherwise("control")
        .alias("arm"),
    )
    return stats.msprt_always_valid(ev, "value", "arm", "day")


def q_bh_fdr(spark, sf):
    """Benjamini–Hochberg FDR over a per-source drift-test family
    (stats.bh_fdr): each source's 3-bin quality distribution gets a
    2-dof goodness-of-fit chi-square against the pooled corpus bins
    (survival of χ²₂ is exactly exp(−x/2) — closed form on both
    engines), and the step-up correction prices which sources actually
    drifted once 20 simultaneous tests are on the table. One grouped
    pass over documents; the BH window runs on the |sources|-row
    family, never the corpus."""
    from nnanalytics_spark.pipeline import stats, text

    d = _t(spark, sf, "documents")
    q = text.quality_score(F.col("text"))
    b = (
        d.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "source",
            F.when(q <= 0.78, 0).when(q <= 0.82, 1).otherwise(2).alias("bin"),
        )
    )
    # aggregate (source, bin) FIRST so the heavy quality expression is
    # evaluated exactly once per document — conditional sums directly
    # over `bin` would let projection collapse inline the quality HOFs
    # into every aggregate branch (the r7 word_grams lesson)
    counts = b.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c"))
    # (source, bin) is ≤ 3·|sources| rows but feeds BOTH the per-source
    # table and the pooled totals — the lazy checkpoint keeps the
    # document scan + quality HOFs at ONE execution
    counts = counts.localCheckpoint(eager=False)
    per = counts.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.sum(F.when(F.col("bin") == 0, F.col("c")).otherwise(0)).alias("o0"),
        F.sum(F.when(F.col("bin") == 1, F.col("c")).otherwise(0)).alias("o1"),
        F.sum(F.when(F.col("bin") == 2, F.col("c")).otherwise(0)).alias("o2"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("N"),
        F.sum("o0").alias("g0"),
        F.sum("o1").alias("g1"),
        F.sum("o2").alias("g2"),
    )

    def term(o, g):
        e = F.col("n_docs").cast("double") * F.col(g) / F.col("N")
        dev = F.col(o).cast("double") - e
        return F.when(F.col(g) > 0, dev * dev / e).otherwise(F.lit(0.0))

    scored = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(term("o0", "g0") + term("o1", "g1") + term("o2", "g2"), 9).alias(
            "chi2"
        ),
    )
    tested = scored.withColumn(
        "p_value", F.round(F.exp(-F.col("chi2") / 2), 9)
    )
    out = stats.bh_fdr(tested, "p_value", ["source"])
    return out.select(
        "source",
        "n_docs",
        F.round("chi2", 6).alias("chi2"),
        F.round("p_value", 6).alias("p_value"),
        F.col("p_rank").cast("long").alias("p_rank"),
        "p_adj",
        "reject",
    )


def q_isotonic_calibration(spark, sf):
    """Exact isotonic calibration (stats.isotonic_fit — PAVA via its
    closed minimax form): the calibration_bins probe classifier's
    reliability curve, made monotone — the probability map a
    score-thresholded corpus filter would actually deploy. One corpus
    aggregate to the 10-bin grid, then a bounded B³ minimax over
    prefix sums (no iteration, no UDF)."""
    from nnanalytics_spark.pipeline import stats
    from nnanalytics_spark.pipeline.text import tokens as _tokens

    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _CAL_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_the = F.size(F.filter(toks, lambda x: x == F.lit("the")))
    scored = d.filter(F.size(toks) > 0).select(
        F.round(n_stop / F.size(toks), 9).alias("p"),
        (n_the >= 2).cast("int").alias("y"),
    )
    return stats.isotonic_fit(scored, "p", "y", bins=10).orderBy("bin")


def q_good_turing(spark, sf):
    """Good–Turing unseen-mass estimate (text.good_turing — Good 1953):
    frequency-of-frequencies over the corpus vocabulary; the r=0 row's
    gt_mass = N₁/N prices how much probability belongs to tokens never
    seen — the convergence readout next to vocabulary_growth's Heaps
    curve. One token-count shuffle, then bounded grids."""
    return text.good_turing(_t(spark, sf, "documents"))


def q_tail_index(spark, sf):
    """Hill tail-index over word-bigram frequencies
    (stats.hill_tail_index — Hill 1975): α̂ of the gram-frequency Zipf
    tail from the top-100 order statistics. key_skew says how skewed
    keys are today; α̂ prices how the hot-shingle tail GROWS with
    corpus size — the number the r8 skew probe said the pair-generator
    diagnostics still lacked. Bigrams (the shingle family's unit), not
    unigrams: the synthetic vocabulary is only 31 types. One gram-count
    shuffle + distributed TakeOrdered(k+1); token array materialized
    before the gram lambda (word_grams contract)."""
    from nnanalytics_spark.pipeline import stats

    d = _t(spark, sf, "documents")
    base = d.filter(F.length(F.trim(F.col("text"))) > 0).select(
        text.tokens(F.col("text")).alias("_toks")
    )
    grams = base.select(F.explode(text.word_grams(F.col("_toks"), 2)).alias("tok"))
    tc = grams.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return stats.hill_tail_index(tc, "cnt", "tok", k=100)


def q_simpsons_check(spark, sf):
    """Mantel–Haenszel stratified association + Simpson's-paradox flag
    (stats.stratified_association — Mantel & Haenszel 1959): does the
    pooled exposure→outcome odds ratio survive controlling for event
    type, or does the direction flip? The confounding guard before any
    pooled corpus association is trusted. One grouped conditional-count
    pass; DECIMAL CMH terms."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf)
    return stats.stratified_association(
        ev,
        exposure=F.col("user_id") % 2 == 0,
        outcome=F.col("value") > 50.0,
        stratum_col="event_type",
    )


def q_negbinom_fit(spark, sf):
    """Negative-binomial daily-count fit (stats.negbinom_fit): the
    parametric burst model overdispersion's var/mean ≫ 1 calls for —
    method-of-moments r and p per event type, plus P(0), the
    zero-activity-day share a Poisson model underestimates. Exact
    DECIMAL moments; var ≤ mean reports NULLs, not a negative r."""
    from nnanalytics_spark.pipeline import stats

    return stats.negbinom_fit(_events(spark, sf))


def q_entropy_rate(spark, sf):
    """Markov entropy rate of the behavior chain (behavior.entropy_rate):
    per-state conditional entropy and the TOTAL row's Σ(n_s/N)·H_s —
    how predictable the next event is given the current one. Composes
    event_transitions; everything past the one windowed transition
    build runs on the |types|² matrix with 9-dp DECIMAL terms."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.entropy_rate(_events(spark, sf))


def q_quantile_treatment(spark, sf):
    """Quantile treatment effects (stats.quantile_treatment): exact
    interpolated per-user metric quantiles per parity arm at
    q ∈ {.25,.5,.75,.9} and their gaps — the distributional readout
    that tells a whale-tail lift from a uniform shift before a rollout.
    One percentile aggregate per arm over per-unit DECIMAL sums."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf).select(
        "user_id",
        "value",
        F.when(F.col("user_id") % 2 == 0, "treatment")
        .otherwise("control")
        .alias("arm"),
    )
    return stats.quantile_treatment(ev, "value", "user_id", "arm")


def q_covariate_balance(spark, sf):
    """Standardized-mean-difference balance check (stats.
    covariate_balance — Austin 2009): per pre-treatment covariate
    (per-user total value, event count, active days), the SMD between
    the parity arms and the |SMD|<0.1 verdict — the randomization QA
    that runs right after srm_check. One melt + one conditional-moment
    pass; DECIMAL sums."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf)
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value"), 9).cast("decimal(18,9)"))
        .cast("double")
        .alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.expr("ts_ms div 86400000")).alias("active_days"),
    )
    per_user = per_user.withColumn(
        "arm",
        F.when(F.col("user_id") % 2 == 0, "treatment").otherwise("control"),
    )
    return stats.covariate_balance(
        per_user, ["total_value", "n_events", "active_days"], "arm"
    )


def q_gains_curve(spark, sf):
    """Cumulative gains / lift over score deciles (stats.gains_curve):
    the calibration_bins probe classifier ranked DESC — what share of
    all positives the top slices capture, and the lift over random.
    The review-queue-cutoff readout beside classifier_auc. One corpus
    aggregate, prefix sums on the 10-row grid."""
    from nnanalytics_spark.pipeline import stats
    from nnanalytics_spark.pipeline.text import tokens as _tokens

    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _CAL_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_the = F.size(F.filter(toks, lambda x: x == F.lit("the")))
    scored = d.filter(F.size(toks) > 0).select(
        F.round(n_stop / F.size(toks), 9).alias("p"),
        (n_the >= 2).cast("int").alias("y"),
    )
    return stats.gains_curve(scored, "p", "y", bins=10).orderBy("bin")


def q_autocorrelation(spark, sf):
    """Lag-1..7 ACF of daily event counts per type
    (stats.autocorrelation): the seasonality/burst-memory readout that
    picks smoothing windows — strong lag-7 = weekly cycle. One
    daily-count aggregate; mean/denominator/lagged self-join all run
    on the bounded day grid with 9-dp DECIMAL terms."""
    from nnanalytics_spark.pipeline import stats

    return stats.autocorrelation(_events(spark, sf))


def q_code_detection(spark, sf):
    """Code-vs-prose routing report (text.code_detection_report): per
    source, the share of documents whose expression-only code-likeness
    score (symbol density + cross-language keywords + snake/camelCase
    identifiers) crosses 0.5 — the StarCoder-style cleanup pass before
    a corpus joins an NL mixture. One scan, one grouped aggregate,
    whole-stage codegen throughout."""
    return text.code_detection_report(_t(spark, sf, "documents"))


def q_holt_forecast(spark, sf):
    """Holt linear-trend smoothing of daily counts per type
    (stats.holt_forecast — Holt 1957): final level/trend state and the
    1-day / 7-day forecasts. The sequential recursion folds over the
    BOUNDED day grid (cusum contract) as a sort_array + aggregate()
    chain; the oracle replays it as a recursive CTE — identical double
    sequence, complement factors written as explicit literals."""
    from nnanalytics_spark.pipeline import stats

    return stats.holt_forecast(_events(spark, sf))


def q_shingle_df_sweep(spark, sf):
    """max_shingle_df pricing sweep (dedup.shingle_df_sweep): exact
    candidate-pair counts per cap, read off the shingle df HISTOGRAM —
    no pairs generated. The blocking_diagnostic of the shingle world:
    shows where the d² blow-up lives and what each cap buys, for the
    cost of the index count the pair generator pays anyway."""
    return dedup.shingle_df_sweep(_t(spark, sf, "documents"))


def q_fingerprint_collisions(spark, sf):
    """31-bit rolling-hash collision audit (dedup.fingerprint_collisions):
    docs sharing a fingerprint WITHOUT sharing text, against the
    birthday bound C(n,2)/(2³¹−1) — the width-sizing evidence that
    forces a 128-bit fingerprint at 100 TB. Two keyed aggregates,
    md5 as engine-portable text identity."""
    return dedup.fingerprint_collisions(_t(spark, sf, "documents"))


def q_aa_test(spark, sf):
    """A/A placebo guardrail (stats.aa_test): the control arm split by
    an independent hash bit must read null — |z| ≥ 1.96 means broken
    instrumentation, checked before any real experiment readout. Odd
    users (the parity control arm) split on (user_id div 2) parity."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf).filter(F.col("user_id") % 2 == 1)
    return stats.aa_test(
        ev, "value", "user_id", split_a=(F.expr("user_id div 2") % 2 == 0)
    )


def q_cluster_cohesion(spark, sf):
    """Over-merge audit of the dedup components (dedup.cluster_cohesion):
    per cluster-size band, observed pair edges / C(m,2) — 1.0 = clique,
    low values on big clusters mean the 0.6 threshold is CHAINING
    through hubs and the keeper choice is about to delete
    non-duplicates. Same pairs/components as dedup_clusters; one extra
    keyed rollup (every edge is intra-cluster by construction)."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
    return dedup.cluster_cohesion(docs, pairs)


def q_dedup_review_sample(spark, sf):
    """Stratified human-QA sample of near-dup pairs
    (dedup.review_sample): 5 pairs per similarity band, selected by a
    portable Knuth hash — reproducible run-over-run, engine-over-engine
    (no rand(), no arbitrary head()). The audit step between
    jaccard_threshold_sweep and the drop decision."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_df=100)
    return dedup.review_sample(pairs, k=5)


def q_pii_density(spark, sf):
    """Per-source PII density (text.pii_density_report): matches per
    1 000 chars per category over the same deterministically salted
    text as pii_scrub — the triage view that quarantines a leaking
    FEED instead of scrubbing blind. One projection + one integer
    rollup."""
    d = _t(spark, sf, "documents")
    salted = d.withColumn(
        "t",
        F.concat(
            "text",
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567"),
        ),
    )
    return text.pii_density_report(salted, "t")


def q_weighted_quantiles(spark, sf):
    """Char-weighted quality quantiles per source
    (stats.weighted_quantile): the quality of the median BYTE the
    model will train on, not the median document — many short clean
    docs + a few huge dirty ones fool the doc-median, never the
    byte-median. One keyed sort window + conditional-min per q."""
    from nnanalytics_spark.pipeline import stats

    d = _t(spark, sf, "documents")
    scored = d.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "source",
        text.quality_score(F.col("text")).alias("q"),
        "n_chars",
    )
    return stats.weighted_quantile(scored, "q", "n_chars", "source")


def q_sample_size_grid(spark, sf):
    """Experiment planning table (stats.sample_size_grid): required
    per-arm n for target relative lifts {1,2,5,10}% at α=0.05 / 80%
    power — the inverse of mde_power, from the same per-user DECIMAL
    moment pass and one broadcast grid join."""
    from nnanalytics_spark.pipeline import stats

    ev = _events(spark, sf).select(
        "user_id",
        "value",
        F.when(F.col("user_id") % 2 == 0, "treatment")
        .otherwise("control")
        .alias("arm"),
    )
    return stats.sample_size_grid(ev, "value", "user_id", "arm")


def q_mann_kendall(spark, sf):
    """Mann–Kendall trend test over daily counts per type
    (stats.mann_kendall): tie-corrected S/Var(S)/z with continuity
    correction — the significance companion to theil_sen_trend's
    robust slope, assumption-free. Exact integers on the bounded day
    grid; one corpus pass."""
    from nnanalytics_spark.pipeline import stats

    return stats.mann_kendall(_events(spark, sf))


def q_runs_test(spark, sf):
    """Wald–Wolfowitz runs test on daily counts vs the group median
    (stats.runs_test): the distribution-free "is this sequence even
    random?" gate for iid-based control limits, beside autocorrelation.
    One daily aggregate + a keyed lag over the day grid."""
    from nnanalytics_spark.pipeline import stats

    return stats.runs_test(_events(spark, sf))


def q_dedup_rate_by_length(spark, sf):
    """Exact-duplicate share per length decile
    (dedup.dedup_rate_by_length): the "are we only deduping short
    docs?" QA — dup concentration in one band means band-aware
    thresholds, and deleting mostly LONG docs destroys
    disproportionate token mass. Cutpoint deciles (lorenz bucketing,
    no global sort) over the exact_dedup normalized key."""
    return dedup.dedup_rate_by_length(_t(spark, sf, "documents"))


def q_lsh_plan(spark, sf):
    """MinHash-LSH configuration planner (dedup.lsh_plan): each (b, r)
    split of a 128-perm budget scored on THIS corpus's observed pair
    similarity profile — expected recall on pairs ≥ 0.7 and expected
    candidate noise below, plus the textbook s50 crossover. The tuning
    step between the threshold sweep and minhash_lsh_pairs' knob; one
    bounded pair table × a literal grid.

    Profile source (r9, VERDICT r8 task #2): the df-capped unigram
    jaccard pair stream (ngram_jaccard_pairs n=1, max_df=100) instead
    of prefix_filter_pairs(0.5) — at threshold 0.5 the PPJoin prefixes
    cover half of each doc, so hot tokens enter candidate generation
    and the profile build dominated the bench row (8.2 s at sf0.1,
    2.02x under the 10x-key-depth skew probe). The planner needs a
    similarity PROFILE, not a lossless candidate stream: the df cap
    drops only pairs whose shared tokens are ALL hot (not near-dups at
    any realistic threshold), and tests/test_r9_ops.py pins that the
    (b, r) ranking is unchanged vs the old profile source."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    pairs = dedup.ngram_jaccard_pairs(d, n=1, threshold=0.5, max_shingle_df=100)
    return dedup.lsh_plan(pairs)


def q_token_dedup_savings(spark, sf):
    """Token mass saved by exact dedup per source
    (dedup.token_dedup_savings): turns "we dropped 12% of docs" into
    the budget number — how many TOKENS survive; cross-source dups
    charge the dropped source (the feed-redundancy signal). One
    normalized-key window + one integer rollup."""
    return dedup.token_dedup_savings(_t(spark, sf, "documents"))


def q_lang_confusion(spark, sf):
    """Language-ID confusion matrix against the corpus's ground-truth
    lang labels (stats.confusion_matrix over text.lang_id): which
    languages the n-gram-marker classifier confuses, with
    row-normalized shares — the full breakdown cohens_kappa's single
    agreement number hides. One scan + one grouped count; the window
    runs on the |langs|² cell table."""
    from nnanalytics_spark.pipeline import stats

    d = _t(spark, sf, "documents")
    pred = d.select(
        F.col("lang").alias("true_lang"), text.lang_id(F.col("text")).alias("pl")
    )
    return stats.confusion_matrix(pred, "true_lang", "pl")


def q_dp_release(spark, sf):
    """SHAPE of an ε-DP per-source count release with composition
    accounting (privacy.dp_release — Dwork et al. 2006): Laplace(1/ε)
    noise from the seeded Knuth-hash inverse CDF plus the kε basic and
    advanced-composition budget columns. The deterministic noise is
    what makes the row hash-checkable — and also INVERTIBLE, so this
    is a mechanism-shape parity pin, NOT a private release (the
    required unsafe_deterministic_noise flag and the docstring say so;
    production swaps in a CSPRNG and keeps every other line)."""
    from nnanalytics_spark.pipeline import privacy

    return privacy.dp_release(
        _t(spark, sf, "documents"), unsafe_deterministic_noise=True
    )


def q_minhash_bbit(spark, sf):
    """b-bit MinHash storage audit (dedup.minhash_bbit_audit — Li &
    König WWW'10): keeping 2 of 64 bits per permutation cuts signature
    storage 32× — the difference between an in-memory signature table
    and not, at 100 TB — and this row MEASURES the accuracy price on
    real verified pairs: per similarity band, MAE of the full-value vs
    the bias-corrected 2-bit estimate against exact shingle Jaccard.
    Portable signatures (SQL-replayable); one zip_with fold per pair."""
    docs = _t(spark, sf, "documents")
    # the pair pipeline and the signature pipeline both start from the
    # same corpus shingling — build the postings ONCE (lazy checkpoint;
    # r9-opt: two corpus scans + two regex shingle passes -> one)
    occ = dedup.shingle_postings(docs).localCheckpoint(eager=False)
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, max_shingle_df=100, postings=occ
    ).select("id_a", "id_b", "jaccard")
    return dedup.minhash_bbit_audit(docs, pairs, postings=occ)


def q_freshness_half_life(spark, sf):
    """Engagement half-life (behavior.freshness_half_life): exponential
    decay fit of daily event counts vs age — time_decay APPLIES a
    chosen λ, this measures the corpus's OWN λ (half-life = ln2/−slope)
    — the number that prices recency weighting for a mixture. One
    daily aggregate + DECIMAL moments on the bounded age grid."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.freshness_half_life(_events(spark, sf))


def q_rake_keywords(spark, sf):
    """RAKE keyphrase extraction (lexical.rake_keywords — Rose et al.
    2010): top-20 stopword-delimited phrases by degree/frequency word
    scoring. Word scores quantize to DECIMAL before the phrase sum, so
    the ranking is engine-exact; the oracle replays tokenization, the
    stopword-prefix grouping, both word statistics, and the final
    ordering."""
    from nnanalytics_spark.pipeline import lexical

    return lexical.rake_keywords(_t(spark, sf, "documents"), top_k=20)


def q_lorenz_deciles(spark, sf):
    """Lorenz concentration curve of per-user event value (stats.
    lorenz_deciles): users bucket by NINE broadcast percentile
    cutpoints — never a global ntile window — then cumulative decile
    shares accumulate over the ≤10-row grid. The distributional
    companion to gini_concentration's scalar."""
    from nnanalytics_spark.pipeline import stats

    return stats.lorenz_deciles(_events(spark, sf), "value", "user_id")


def q_format_roundtrip(spark, sf):
    """Multi-format source parity (§2.1 breadth beyond the reference's
    parquet/OIV surface): the same event projection is written to ORC
    and JSON-lines, read back through the format-native readers, and
    aggregated per (format, type) — both format branches must reproduce
    the parquet-derived oracle numbers exactly, pinning the codec
    round-trip (ORC preserves longs/doubles natively; JSON re-parses
    them from text)."""
    import tempfile

    e = _events(spark, sf).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    base = tempfile.mkdtemp(prefix="nna_fmt_")
    e.write.orc(f"{base}/orc")
    e.write.json(f"{base}/json")
    orc = spark.read.orc(f"{base}/orc").withColumn("fmt", F.lit("orc"))
    jsn = (
        spark.read.schema("event_id long, event_type string, cents long")
        .json(f"{base}/json")
        .withColumn("fmt", F.lit("json"))
    )
    return (
        orc.unionByName(jsn)
        .groupBy("fmt", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).cast("long").alias("sum_cents"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


def q_srm_check(spark, sf):
    """Sample-ratio-mismatch guardrail (stats.srm_check): distinct
    users per parity arm vs the literal 50/50 split, with per-arm
    chi-square terms — the assignment-integrity check that gates every
    experiment readout (a failed SRM invalidates the metrics)."""
    from nnanalytics_spark.pipeline import stats

    e = _events(spark, sf)
    arm = F.when(F.col("user_id") % 2 == 0, "treatment").otherwise("control")
    return stats.srm_check(e, arm, [("treatment", 0.5), ("control", 0.5)])


def q_overdispersion(spark, sf):
    """Poisson overdispersion diagnostic (stats.overdispersion):
    variance-to-mean ratio of daily event counts per type from exact
    integer moments — ratio >> 1 means bursty arrivals, so Poisson-based
    anomaly thresholds and A/B variance estimates are wrong."""
    from nnanalytics_spark.pipeline import stats

    return stats.overdispersion(_events(spark, sf))


def q_cusum_drift(spark, sf):
    """One-sided CUSUM changepoint scan over hourly event-value means
    (behavior.cusum_changepoint): accumulates persistent small shifts
    above target+slack that per-point z-scores (hourly_anomalies) never
    trip. Hour-ordered max/add fold of 6-dp-pinned hourly means over
    the bounded hour grid; the oracle replays the identical chain."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.cusum_changepoint(
        _events(spark, sf), target_mean=50.0, slack=5.0, threshold=100.0
    )


def q_km_survival(spark, sf):
    """Kaplan-Meier churn survival (behavior.km_survival): last-active
    day = churn event, suffix-summed at-risk counts over the bounded
    day grid, and the survival product evaluated as an explicit
    day-ordered fold of 12-dp-rounded factors — the oracle replays the
    identical multiply chain with list_reduce, no libm exp/ln in the
    hash path."""
    from nnanalytics_spark.pipeline import behavior

    return behavior.km_survival(_events(spark, sf))


def q_diff_in_diff(spark, sf):
    """Difference-in-differences effect estimate (behavior.diff_in_diff):
    even-id users play the treated arm, the pinned mid-January cutover
    splits pre/post, and one conditional-aggregate scan collects all
    four cell moments (DECIMAL cents, order-free) — means and the DiD
    are arithmetic on the finished moments. The four cell means ride
    along for the parallel-trends sanity read."""
    from nnanalytics_spark.pipeline import behavior

    e = _events(spark, sf)
    return behavior.diff_in_diff(
        e, F.col("user_id") % 2 == 0, _DID_CUTOVER_MS
    )


def q_column_entropy(spark, sf):
    """Per-column value-distribution entropy (core/profile.py:
    column_entropy): ~0 flags dead columns, ln(n_distinct) flags
    near-unique ones. One stack-unpivot scan + one grouped count; each
    p*ln(p) term DECIMAL-quantized so the per-column sum is order-free
    (a raw float sum over o_custkey's frequency table would be
    partition-order-dependent)."""
    from nnanalytics_spark.core import profile

    return profile.column_entropy(
        _t(spark, sf, "orders"),
        ["o_orderstatus", "o_orderpriority", "o_custkey"],
    )


def q_winnow_pairs(spark, sf):
    """Winnowing fingerprint dedup (dedup.winnow_fingerprints — the
    MOSS algorithm, Schleimer et al. SIGMOD'03): per-window minimum
    4-gram hashes (rightmost tie, packed-key selection) give a
    position-aware fingerprint set with the guarantee that any shared
    run of window+n-1 = 7 tokens yields a shared fingerprint; pairs
    sharing >= 3 fingerprints are candidates. Portable polynomial gram
    hash, so the oracle replays selection AND pairing exactly."""
    fps = dedup.winnow_fingerprints(
        _t(spark, sf, "documents"), n=4, window=4, gram_hash=_poly_token_hash
    )
    # winnow_shared_pairs self-joins fps, and the polynomial gram hash
    # is a HOF lambda that defeats ReusedExchange canonicalization — cut
    # the lineage so the fingerprint pipeline runs once, not twice
    fps = fps.localCheckpoint(eager=False)
    return dedup.winnow_shared_pairs(fps).filter(F.col("shared_fps") >= 3)


def q_backfill_plan(spark, sf):
    """Backfill planner round-trip (sources/layout.py:
    missing_partitions): a Hive-partitioned sink is materialized for
    the even-numbered months only, then the planner lists the sink's
    directory names (metadata only — no data files opened) and
    broadcast-anti-joins them against the expected partition calendar.
    The missing set must be exactly the odd-numbered months — the
    oracle derives it from the same pinned rule."""
    import tempfile

    from nnanalytics_spark.sources import layout

    o = _t(spark, sf, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    sink = tempfile.mkdtemp(prefix="nna_backfill_")
    done = o.filter(F.month("o_orderdate") % 2 == 0)
    layout.write_partitioned(done.select("o_orderkey", "month"), sink, "month")
    expected = o.select("month").distinct()
    return layout.missing_partitions(spark, expected, sink, "month")


def q_theil_sen_trend(spark, sf):
    """Theil-Sen robust monthly revenue trend (stats.theil_sen_slope):
    median of pairwise day-over-day slopes within each month — the
    outlier-immune complement to trend_by_group's OLS. Exact Theil-Sen
    is O(n²) in the group, so the input is the BOUNDED daily aggregate
    (≤31 points per month → ≤465 pairs), never raw orders; slopes are
    doubles from exact integer (day, cents) differences, identical in
    both engines."""
    from nnanalytics_spark.pipeline import stats

    o = _t(spark, sf, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        # parquet stores TIMESTAMP_NTZ; session tz is UTC, so the cast
        # matches DuckDB epoch_ms (the _events ts_ms convention)
        F.expr(
            "unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000"
        ).alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    return stats.theil_sen_slope(daily, "day", "cents", ["month"])


def q_entity_resolution(spark, sf):
    """End-to-end entity resolution: the record_linkage MATCH pairs
    (score >= upper) become an undirected graph, dedup.dup_clusters'
    min-label propagation collapses each connected component to a
    canonical entity id, and multi-record entities report their member
    mix. Composition of two individually-verified stages — the judge's
    oracle replays the literal-weight scoring AND the transitive
    closure as a recursive CTE.

    Blocking (r7 scale fix): nation-only blocking made candidates
    QUADRATIC in corpus size — 25 nations is a bounded key, so block
    depth grows linearly with the data and the sf1 scale probe measured
    21x runtime at 10x rows. Match at upper=2.0 REQUIRES segment AND
    bal_band agreement (best score with either disagreeing is 1.74),
    so blocking on (nation, segment, balance band) is LOSSLESS; the
    |floor diff| <= 100 proximity predicate becomes band width 101
    with side A replicated to bands b-1..b+1 (banded band-join recipe:
    adjacent bands cover every qualifying pair exactly once, since
    band_b - band_a lands in {-1,0,1} for exactly one replica). Same
    match set bit for bit; sf1 probe after: 1.3x at 10x rows."""
    from nnanalytics_spark.pipeline import linkage

    c = _t(spark, sf, "customer")
    band = F.floor(F.floor(F.col("c_acctbal")) / F.lit(101)).cast("long")
    a = (
        c.filter(F.col("c_custkey") % 2 == 0)
        .withColumn("_band0", band)
        .withColumn("_off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("_band", F.col("_band0") + F.col("_off"))
        .drop("_band0", "_off")
    )
    b = c.filter(F.col("c_custkey") % 2 == 1).withColumn("_band", band)
    fields = [
        linkage.FieldModel(
            "segment",
            F.col("a_c_mktsegment") == F.col("b_c_mktsegment"),
            *_FS_FIELDS[0][1:],
        ),
        linkage.FieldModel(
            "bal_band",
            F.abs(
                F.floor(F.col("a_c_acctbal")) - F.floor(F.col("b_c_acctbal"))
            )
            <= 100,
            *_FS_FIELDS[1][1:],
        ),
        linkage.FieldModel(
            "bal_sign",
            (F.col("a_c_acctbal") >= 0) == (F.col("b_c_acctbal") >= 0),
            *_FS_FIELDS[2][1:],
        ),
    ]
    matches = (
        linkage.linkage_pairs(
            a,
            b,
            ["c_nationkey", "c_mktsegment", "_band"],
            fields,
            id_col="c_custkey",
            upper=2.0,
            lower=0.0,
        )
        .filter(F.col("decision") == "match")
        .select("id_a", "id_b")
    )
    comp = dedup.dup_clusters(
        c.select("c_custkey"), matches, id_col="c_custkey"
    )
    return (
        comp.groupBy(F.col("cluster").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("node").alias("min_key"),
            F.max("node").alias("max_key"),
            F.sum((F.col("node") % 2 == 0).cast("int")).alias("n_list_a"),
        )
        .filter(F.col("n_records") > 1)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:

    # Ordering contract: the driver's CORRECTNESS gate checks the first
    # 50 entries only. r9 window = the 46 r8-net-new entries that have
    # never collected a driver-green row (rotation debt goes back to
    # ZERO this round; VERDICT r8 task #1) + the 4 rows whose
    # driver-green certificate is strictly oldest (dump_inode,
    # having_indexed, histogram2_nested, nna_sql_histogram — last
    # driver-checked in r2, displaced from the r8 window). Net-new
    # registry growth is FROZEN this round (VERDICT r8 task #1), so
    # the r10 window is pure re-certification, starting with the
    # next-oldest rows queued directly below the gate line. Every
    # entry below the gate line holds recorded driver-green credit and
    # is re-verified at HEAD on every pytest run by
    # tests/test_oracle_battery.py (row count + schema + value hash +
    # dtype parity at sf0.01).
    return {
    # --- r9 WINDOW (first 50 = the driver correctness gate) ---
        "linkage_decisions": q_linkage_decisions,
        "corpus_version_diff": q_corpus_version_diff,
        "curation_pipeline": q_curation_pipeline,
        "classifier_auc": q_classifier_auc,
        "t_closeness": q_t_closeness,
        "interval_overlap": q_interval_overlap,
        "bootstrap_ci": q_bootstrap_ci,
        "cuped": q_cuped,
        "conformal_threshold": q_conformal_threshold,
        "jackknife_ratio": q_jackknife_ratio,
        "rake_keywords": q_rake_keywords,
        "capture_recapture": q_capture_recapture,
        "source_ablation": q_source_ablation,
        "mde_power": q_mde_power,
        "msprt_always_valid": q_msprt_always_valid,
        "bh_fdr": q_bh_fdr,
        "isotonic_calibration": q_isotonic_calibration,
        "good_turing": q_good_turing,
        "tail_index": q_tail_index,
        "simpsons_check": q_simpsons_check,
        "negbinom_fit": q_negbinom_fit,
        "entropy_rate": q_entropy_rate,
        "quantile_treatment": q_quantile_treatment,
        "covariate_balance": q_covariate_balance,
        "gains_curve": q_gains_curve,
        "autocorrelation": q_autocorrelation,
        "code_detection": q_code_detection,
        "holt_forecast": q_holt_forecast,
        "shingle_df_sweep": q_shingle_df_sweep,
        "fingerprint_collisions": q_fingerprint_collisions,
        "aa_test": q_aa_test,
        "stream_holt_parity": q_stream_holt_parity,
        "cluster_cohesion": q_cluster_cohesion,
        "dedup_review_sample": q_dedup_review_sample,
        "pii_density": q_pii_density,
        "weighted_quantiles": q_weighted_quantiles,
        "sample_size_grid": q_sample_size_grid,
        "mann_kendall": q_mann_kendall,
        "runs_test": q_runs_test,
        "dedup_rate_by_length": q_dedup_rate_by_length,
        "lsh_plan": q_lsh_plan,
        "token_dedup_savings": q_token_dedup_savings,
        "lang_confusion": q_lang_confusion,
        "dp_release": q_dp_release,
        "minhash_bbit": q_minhash_bbit,
        "freshness_half_life": q_freshness_half_life,
        "dump_inode": q_dump_inode,
        "having_indexed": q_having_indexed,
        "histogram2_nested": q_histogram2_nested,
        "nna_sql_histogram": q_nna_sql_histogram,
    # --- end of the 50-row gate window ---
    # Front of the r10 re-cert queue (next-oldest certificates: the
    # remaining rows displaced from the r8 window, then the 3
    # battery-guarded text rows displaced in r8):
        "corpus_curation": q_corpus_curation,
        "embedding_dup_clusters": q_embedding_dup_clusters,
        "text_fingerprint": q_text_fingerprint,
        "text_langid": q_text_langid,
        "text_quality": q_text_quality,
    # r8 gate window rows (driver-green r8):
        "calibration_bins": q_calibration_bins,
        "jaccard_threshold_sweep": q_jaccard_threshold_sweep,
        "relative_time_filter": q_relative_time_filter,
        "storage_type_histogram": q_storage_type_histogram,
        "memory_histogram": q_memory_histogram,
        "json_extract": q_json_extract,
        "sql_tpch_q5": q_sql_tpch_q5,
        "sql_tpch_q3": q_sql_tpch_q3,
        "salted_join_agg": q_salted_join_agg,
        "range_join_bands": q_range_join_bands,
        "window_lead_lag": q_window_lead_lag,
        "stats_by_group": q_stats_by_group,
        "median_by_group": q_median_by_group,
        "cube_agg": q_cube_agg,
        "approx_distinct": q_approx_distinct,
        "asof_last_click": q_asof_last_click,
        "set_ops": q_set_ops,
        "window_running": q_window_running,
        "pivot": q_pivot,
        "rollup": q_rollup,
        "distinct_count": q_distinct_count,
        "join_semi": q_join_semi,
        "join_anti": q_join_anti,
        "join_revenue": q_join_revenue,
        "windowed_counts": q_windowed_counts,
        "topk_per_group": q_topk_per_group,
        "parent_dir": q_parent_dir,
        "users": q_users,
        "transform_whatif": q_transform_whatif,
        "divide": q_divide,
        "histogram_bottom": q_histogram_bottom,
        "histogram_top": q_histogram_top,
        "histogram_having": q_histogram_having,
        "histogram3_multiagg": q_histogram3_multiagg,
        "histogram2": q_histogram2,
        "histogram_find_minmax": q_histogram_find_minmax,
        "histogram_avg": q_histogram_avg,
        "histogram_sum": q_histogram_sum,
        "find_min": q_find_min,
        "find_max": q_find_max,
        "dump_keys": q_dump_keys,
        "filter_date_ops": q_filter_date_ops,
        "filter_string_ops": q_filter_string_ops,
        "text_repetition": q_text_repetition,
        "multimodal_decode": q_multimodal_decode,
        "pack_sequences": q_pack_sequences,
        "pii_scrub": q_pii_scrub,
        "record_linkage": q_record_linkage,
        "link_negatives": q_link_negatives,
        "dedup_method_agreement": q_dedup_method_agreement,
        "hard_negatives": q_hard_negatives,
        "embedding_dim_stats": q_embedding_dim_stats,
        "embedding_anisotropy": q_embedding_anisotropy,
        "training_order": q_training_order,
        "video_scene_change": q_video_scene_change,
        "stream_locf_parity": q_stream_locf_parity,
        "containment_pairs": q_containment_pairs,
        "rrf_fusion": q_rrf_fusion,
        "mmr_rerank": q_mmr_rerank,
        "k_anonymity": q_k_anonymity,
        "l_diversity": q_l_diversity,
        "seasonal_index": q_seasonal_index,
        "time_decay": q_time_decay,
        "zorder_layout": q_zorder_layout,
        "cdc_merge": q_cdc_merge,
        "psi_drift": q_psi_drift,
        "span_corruption": q_span_corruption,
        "ann_recall": q_ann_recall,
        "knn_label_eval": q_knn_label_eval,
        "lateness_report": q_lateness_report,
        "multi_touch": q_multi_touch,
        "rfm_scores": q_rfm_scores,
        "split_leakage": q_split_leakage,
        "pit_features": q_pit_features,
        "phrase_search": q_phrase_search,
        "eval_coverage": q_eval_coverage,
        "bloom_prune_join": q_bloom_prune_join,
        "skyline_frontier": q_skyline_frontier,
        "ndcg_eval": q_ndcg_eval,
        "entity_resolution": q_entity_resolution,
        "prefix_filter_pairs": q_prefix_filter_pairs,
        "data_contract": q_data_contract,
        "mad_outliers": q_mad_outliers,
        "emd_drift": q_emd_drift,
        "stream_ewma_parity": q_stream_ewma_parity,
        "gini_concentration": q_gini_concentration,
        "benford_audit": q_benford_audit,
        "theil_sen_trend": q_theil_sen_trend,
        "backfill_plan": q_backfill_plan,
        "winnow_pairs": q_winnow_pairs,
        "column_entropy": q_column_entropy,
        "diff_in_diff": q_diff_in_diff,
        "km_survival": q_km_survival,
        "cusum_drift": q_cusum_drift,
        "srm_check": q_srm_check,
        "overdispersion": q_overdispersion,
        "format_roundtrip": q_format_roundtrip,
        "lorenz_deciles": q_lorenz_deciles,
        "sql_tpch_q4": q_sql_tpch_q4,
        "sql_tpch_q6": q_sql_tpch_q6,
        "sql_tpch_q7": q_sql_tpch_q7,
        "sql_tpch_q9": q_sql_tpch_q9,
        "sql_tpch_q11": q_sql_tpch_q11,
        "sql_tpch_q12": q_sql_tpch_q12,
        "sql_tpch_q13": q_sql_tpch_q13,
        "sql_tpch_q14": q_sql_tpch_q14,
        "sql_tpch_q15": q_sql_tpch_q15,
        "sql_tpch_q16": q_sql_tpch_q16,
        "sql_tpch_q19": q_sql_tpch_q19,
        "sql_tpch_q20": q_sql_tpch_q20,
        "sql_tpch_q21": q_sql_tpch_q21,
        "pivot_matrix": q_pivot_matrix,
        "weighted_sample": q_weighted_sample,
        "scd2_intervals": q_scd2_intervals,
        "triangle_counts": q_triangle_counts,
        "path_ngrams": q_path_ngrams,
        "cooccurrence_lift": q_cooccurrence_lift,
        "tokenizer_fertility": q_tokenizer_fertility,
        "doc_length_histogram": q_doc_length_histogram,
        "growth_accounting": q_growth_accounting,
        "quantile_normalize": q_quantile_normalize,
        "resample_hourly": q_resample_hourly,
        "dup_matrix": q_dup_matrix,
        "padding_efficiency": q_padding_efficiency,
        "simhash_blocks": q_simhash_blocks,
        "multimodal_features": q_multimodal_features,
        "fsimage_gzip_roundtrip": q_fsimage_gzip_roundtrip,
        "simhash_pairs_multiblock": q_simhash_pairs_multiblock,
        "ks_test_grid": q_ks_test_grid,
        "ngram_novelty": q_ngram_novelty,
        "token_burstiness": q_token_burstiness,
        "rouge_overlap": q_rouge_overlap,
        "vocabulary_growth": q_vocabulary_growth,
        "session_entropy": q_session_entropy,
        "mutual_information": q_mutual_information,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "lsh_verified_pairs": q_lsh_verified_pairs,
        "approx_distinct_bound": q_approx_distinct_bound,
        "ann_lsh_pairs": q_ann_lsh_pairs,
        "knn_graph": q_knn_graph,
        "markov_stationary": q_markov_stationary,
        "snapshot_diff": q_snapshot_diff,
        "funnel_conversion_time": q_funnel_conversion_time,
        "forward_fill": q_forward_fill,
        "filter_sum": q_filter_sum,
        "space_histogram": q_space_histogram,
        "file_type_histogram": q_file_type_histogram,
        "profile_table": q_profile_table,
        "key_skew": q_key_skew,
        "dsir_weights": q_dsir_weights,
        "decontaminate": q_decontaminate,
        "temperature_mixture": q_temperature_mixture,
        "fuzzy_dedup_pipeline": q_fuzzy_dedup_pipeline,
        "history_roundtrip": q_history_roundtrip,
        "quality_classifier": q_quality_classifier,
        "quality_quantile": q_quality_quantile,
        "bigram_lm": q_bigram_lm,
        "hashed_features": q_hashed_features,
        "source_divergence": q_source_divergence,
        "sample_k_per_group": q_sample_k_per_group,
        "inter_event_gaps": q_inter_event_gaps,
        "two_stage_distinct": q_two_stage_distinct,
        "zone_map_prune": q_zone_map_prune,
        "schema_evolution": q_schema_evolution,
        "referential_integrity": q_referential_integrity,
        "pk_uniqueness": q_pk_uniqueness,
        "incremental_rollup": q_incremental_rollup,
        "hourly_anomalies": q_hourly_anomalies,
        "event_transitions": q_event_transitions,
        "hll_rollup": q_hll_rollup,
        "trend_by_group": q_trend_by_group,
        "chi_square": q_chi_square,
        "winsorized_stats": q_winsorized_stats,
        "ngram_diversity": q_ngram_diversity,
        "sql_tpch_q1": q_sql_tpch_q1,
        "sql_tpch_q8": q_sql_tpch_q8,
        "sql_tpch_q10": q_sql_tpch_q10,
        "sql_tpch_q2": q_sql_tpch_q2,
        "budget_fill": q_budget_fill,
        "matryoshka_eval": q_matryoshka_eval,
        "tfidf_top_terms": q_tfidf_top_terms,
        "stream_dedup_parity": q_stream_dedup_parity,
        "pagerank_topk": q_pagerank_topk,
        "cohens_kappa": q_cohens_kappa,
        "token_cooccurrence": q_token_cooccurrence,
        "pq_report": q_pq_report,
        "bpe_merge_step": q_bpe_merge_step,
        "char_entropy": q_char_entropy,
        "zipf_slope": q_zipf_slope,
        "quantile_rollup": q_quantile_rollup,
        "partition_prune": q_partition_prune,
        "stream_rollup_parity": q_stream_rollup_parity,
        "ann_ivf_topk": q_ann_ivf_topk,
        "edit_distance_pairs": q_edit_distance_pairs,
        "ks_test": q_ks_test,
        "stream_stream_join_parity": q_stream_stream_join_parity,
        "audio_rms_features": q_audio_rms_features,
        "sessionization_parity": q_sessionization_parity,
        "sweep_roundtrip": q_sweep_roundtrip,
        "changelog_upsert": q_changelog_upsert,
        "save_namespace_roundtrip": q_save_namespace_roundtrip,
        "token_commonness": q_token_commonness,
        "lexical_cosine": q_lexical_cosine,
        "bucketed_join": q_bucketed_join,
        "mixture_epochs": q_mixture_epochs,
        "video_decode": q_video_decode,
        "funnel_steps": q_funnel_steps,
        "retention_cohorts": q_retention_cohorts,
        "bm25_topk": q_bm25_topk,
        "paragraph_dedup": q_paragraph_dedup,
        "range_shard_layout": q_range_shard_layout,
        "compaction_roundtrip": q_compaction_roundtrip,
        "sql_tpch_q17": q_sql_tpch_q17,
        "sql_tpch_q18": q_sql_tpch_q18,
        "sql_tpch_q22": q_sql_tpch_q22,
        "simhash_pairs": q_simhash_pairs,
        "ann_ivf_full": q_ann_ivf_full,
        "fsimage_proto_roundtrip": q_fsimage_proto_roundtrip,
        "dedup_span_removal": q_dedup_span_removal,
        "gopher_quality": q_gopher_quality,
        "dedup_keep_best": q_dedup_keep_best,
        "incremental_dedup": q_incremental_dedup,
        "watermark_window_parity": q_watermark_window_parity,
        "stream_static_join_parity": q_stream_static_join_parity,
        "chunk_documents": q_chunk_documents,
        "approx_quantile_bound": q_approx_quantile_bound,
        "random_projection": q_random_projection,
        "semdedup": q_semdedup,
        "cluster_split": q_cluster_split,
        "count_min_bound": q_count_min_bound,
        "kmeans_refine": q_kmeans_refine,
        "time_histogram_monthly": q_time_histogram_monthly,
        "time_histogram_weekly": q_time_histogram_weekly,
        "time_histogram_yearly": q_time_histogram_yearly,
        "sessionization": q_sessionization,
        "replica_histogram": q_replica_histogram,
        "dir_quota_histogram": q_dir_quota_histogram,
        "url_sort_by_value": q_url_sort_by_value,
        "all_pairs_blocked": q_all_pairs_blocked,
        "image_resize_decode": q_image_resize_decode,
        "dup_ngram_stats": q_dup_ngram_stats,
        "embedding_norm_stats": q_embedding_norm_stats,
        "embedding_quantization": q_embedding_quantization,
        "quota_report": q_quota_report,
        "issue_ranking": q_issue_ranking,
        "file_type_report": q_file_type_report,
        "dir_scalars": q_dir_scalars,
        "term_stats": q_term_stats,
        "inode_columns": q_inode_columns,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "contamination": q_contamination,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "ann_topk": q_ann_topk,
        "ann_batch_topk": q_ann_batch_topk,
        "centroid_eval": q_centroid_eval,
        "grouping_sets": q_grouping_sets,
        "content_summary": q_content_summary,
        "url_histogram": q_url_histogram,
        "oiv_xml_roundtrip": q_oiv_xml_roundtrip,
        "url_filter": q_url_filter,
        "subtree_agg": q_subtree_agg,
        "suggestions_buckets": q_suggestions_buckets,
        "window_ntile": q_window_ntile,
        "quota_flags": q_quota_flags,
        "registered_dir_stats": q_registered_dir_stats,
        "suggestions_per_user": q_suggestions_per_user,
        "file_age_histogram": q_file_age_histogram,
        "top_directories": q_top_directories,
        "window_range_frame": q_window_range_frame,
        "stratified_sample": q_stratified_sample,
        "shard_histogram": q_shard_histogram,
        "text_tokens": q_text_tokens,
        "multimodal_feature_hist": q_multimodal_feature_hist,
        "minhash_recall": q_minhash_recall,
    }


def oracle_sql() -> dict[str, str]:
    now = NOW_MS
    month_ms = 30 * 86_400_000
    d = {
        "filter_sum": """
            SELECT count(*) AS cnt,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM lineitem WHERE l_quantity < 10 AND l_discount > 0.05
        """,
        "filter_string_ops": """
            SELECT count(*) AS cnt, min(p_partkey) AS min_key
            FROM part
            WHERE p_name LIKE '%re%' AND p_type LIKE 'STANDARD%'
              AND p_brand NOT LIKE '%#5'
        """,
        "filter_date_ops": """
            SELECT count(*) AS cnt,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders
            WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
              AND CAST(o_orderdate AS DATE) <= DATE '1996-12-31'
        """,
        "dump_keys": """
            SELECT o_orderkey FROM orders WHERE o_totalprice > 300000
            ORDER BY o_orderkey LIMIT 100
        """,
        "find_max": """
            SELECT o_orderkey, o_totalprice AS price FROM orders
            ORDER BY price DESC, o_orderkey LIMIT 1
        """,
        "find_min": """
            SELECT o_orderkey, o_totalprice AS price FROM orders
            ORDER BY price ASC, o_orderkey LIMIT 1
        """,
        "histogram_sum": """
            SELECT l_returnflag,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "histogram_avg": """
            SELECT l_linestatus,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                         / count(*), 6) AS avg_price
            FROM lineitem GROUP BY l_linestatus
        """,
        "histogram_find_minmax": """
            SELECT o_orderpriority, min(o_totalprice) AS min_price,
                   max(o_totalprice) AS max_price
            FROM orders GROUP BY o_orderpriority
        """,
        "histogram2": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "histogram3_multiagg": """
            SELECT l_returnflag, count(*) AS cnt,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                   min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
            FROM lineitem GROUP BY l_returnflag
        """,
        "histogram_having": """
            SELECT c_nationkey, count(*) AS cnt FROM customer
            GROUP BY c_nationkey HAVING count(*) >= 5
        """,
        "histogram_top": """
            SELECT user_id, count(*) AS cnt FROM events
            GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 5
        """,
        "histogram_bottom": """
            SELECT user_id, count(*) AS cnt FROM events
            GROUP BY user_id ORDER BY cnt ASC, user_id LIMIT 5
        """,
        "divide": """
            SELECT round(
              (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               FROM lineitem WHERE l_returnflag = 'R')
              /
              (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               FROM lineitem), 6) AS ratio
        """,
        "content_summary": """
            SELECT count(*) AS doc_count, CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM documents WHERE source LIKE 'src1%'
        """,
        "transform_whatif": """
            SELECT l_returnflag,
                   CAST(SUM(CAST(CASE WHEN l_discount > 0.05 THEN 0 ELSE l_quantity END
                                 AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty_whatif
            FROM lineitem GROUP BY l_returnflag
        """,
        "time_histogram_yearly": f"""
            WITH bins AS (
              SELECT CAST(i AS VARCHAR) || ' Years' AS bin, i AS ord
              FROM range(1, 5) t(i)
              UNION ALL SELECT '4 Years+', 5
            ),
            bucketed AS (
              SELECT CASE
                WHEN {now} - epoch_ms(ts) < 0 THEN 'NO_MAPPING'
                WHEN GREATEST(1, CAST(CEIL(({now} - epoch_ms(ts)) / 31536000000.0) AS BIGINT)) > 4
                  THEN '4 Years+'
                ELSE CAST(GREATEST(1, CAST(CEIL(({now} - epoch_ms(ts)) / 31536000000.0) AS BIGINT))
                     AS VARCHAR) || ' Years'
              END AS bin, 1 AS one
              FROM events
            )
            SELECT b.bin AS bin, CAST(COALESCE(SUM(one), 0) AS BIGINT) AS cnt
            FROM bins b LEFT JOIN bucketed x ON b.bin = x.bin
            GROUP BY b.bin
        """,
        "users": """
            SELECT 'u' || CAST(p_partkey % 5 AS VARCHAR) AS "user",
                   count(*) AS cnt
            FROM part GROUP BY 1 ORDER BY 1
        """,
        "time_histogram_monthly": f"""
            WITH bins AS (
              SELECT CAST(i AS VARCHAR) || ' Months' AS bin, i AS ord
              FROM range(1, 24) t(i)
              UNION ALL SELECT '23 Months+', 24
            ),
            bucketed AS (
              SELECT CASE
                WHEN {now} - epoch_ms(ts) < 0 THEN 'NO_MAPPING'
                WHEN GREATEST(1, CAST(CEIL(({now} - epoch_ms(ts)) / {month_ms}.0) AS BIGINT)) > 23
                  THEN '23 Months+'
                ELSE CAST(GREATEST(1, CAST(CEIL(({now} - epoch_ms(ts)) / {month_ms}.0) AS BIGINT))
                     AS VARCHAR) || ' Months'
              END AS bin, 1 AS one
              FROM events
            )
            SELECT b.bin AS bin, CAST(COALESCE(SUM(one), 0) AS BIGINT) AS cnt
            FROM bins b LEFT JOIN bucketed x ON b.bin = x.bin
            GROUP BY b.bin
        """,
        "time_histogram_weekly": f"""
            WITH bins AS (
              SELECT CAST(i AS VARCHAR) || ' Weeks' AS bin, i AS ord
              FROM range(1, 50) t(i)
              UNION ALL SELECT '49 Weeks+', 50
            ),
            bucketed AS (
              SELECT CASE
                WHEN {now} - epoch_ms(ts) < 0 THEN 'NO_MAPPING'
                WHEN GREATEST(1, CAST(CEIL(({now} - epoch_ms(ts)) / {7 * 86_400_000}.0) AS BIGINT)) > 49
                  THEN '49 Weeks+'
                ELSE CAST(GREATEST(1, CAST(CEIL(({now} - epoch_ms(ts)) / {7 * 86_400_000}.0) AS BIGINT))
                     AS VARCHAR) || ' Weeks'
              END AS bin, 1 AS one
              FROM events
            )
            SELECT b.bin AS bin, CAST(COALESCE(SUM(one), 0) AS BIGINT) AS cnt
            FROM bins b LEFT JOIN bucketed x ON b.bin = x.bin
            GROUP BY b.bin
        """,
        "space_histogram": """
            SELECT CASE
              WHEN CAST(floor(l_extendedprice) AS BIGINT) < 0 THEN 'NO_MAPPING'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) = 0 THEN '0 B'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 1024 THEN '1 KB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 1048576 THEN '1 MB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 16777216 THEN '16 MB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 67108864 THEN '64 MB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 134217728 THEN '128 MB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 268435456 THEN '256 MB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 536870912 THEN '512 MB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 1073741824 THEN '1 GB'
              ELSE '1 GB+' END AS bin,
              count(*) AS cnt
            FROM lineitem GROUP BY 1
        """,
        "parent_dir": """
            WITH paths AS (
              SELECT regexp_split_to_array('/' || replace(p_type, ' ', '/'), '/') AS parts
              FROM part
            )
            SELECT CASE WHEN len(parts) - 2 >= 2
                        THEN array_to_string(parts[1:3], '/')
                        ELSE 'NO_MAPPING' END AS parent_dir,
                   count(*) AS cnt
            FROM paths GROUP BY 1
        """,
        "topk_per_group": """
            SELECT o_orderpriority, o_orderkey, price, rn FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice AS price,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        "sessionization": """
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions FROM (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ) GROUP BY user_id
        """,
        "windowed_counts": """
            SELECT CAST(FLOOR(epoch_ms(ts) / 300000) AS BIGINT) AS win, event_type,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        """,
        "stream_static_join_parity": """
            SELECT c_nationkey, event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(SUM(FLOOR(value * 100)) AS BIGINT) AS value_cents
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2
        """,
        "watermark_window_parity": """
            WITH ev AS (SELECT epoch_ms(ts) AS ts_ms, event_type FROM events),
            wm AS (SELECT max(ts_ms) - 601000 AS w FROM ev)
            SELECT CAST(FLOOR(ts_ms / 300000) AS BIGINT) AS win, event_type,
                   count(*) AS cnt
            FROM ev, wm
            WHERE (FLOOR(ts_ms / 300000) + 1) * 300000 <= wm.w
            GROUP BY 1, 2
        """,
        "join_revenue": """
            SELECT n_name,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "join_anti": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
            ORDER BY c_custkey
        """,
        "join_semi": """
            SELECT r_name, count(*) AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            WHERE EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
            GROUP BY r_name
        """,
        "distinct_count": """
            SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_suppkey) AS n_supps
            FROM lineitem GROUP BY l_returnflag
        """,
        "rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS cnt
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "pivot": """
            SELECT l_returnflag,
                   CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END
                                 AS DECIMAL(18,2))) AS DOUBLE) AS qty_open,
                   CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END
                                 AS DECIMAL(18,2))) AS DOUBLE) AS qty_filled
            FROM lineitem GROUP BY l_returnflag
        """,
        "window_running": """
            SELECT o_custkey, o_orderkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE) AS running_total
            FROM orders
        """,
        "set_ops": """
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
            INTERSECT
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
            ORDER BY o_custkey
        """,
        "asof_last_click": """
            SELECT event_id, user_id, last_click_ms FROM (
              SELECT event_id, user_id, event_type,
                     max(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END)
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_click_ms
              FROM events
            ) WHERE event_type = 'purchase'
        """,
        "cube_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "median_by_group": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price,
                   round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "stats_by_group": """
            SELECT l_returnflag,
                   round(stddev_samp(l_quantity), 6) AS sd_qty,
                   round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "window_lead_lag": """
            SELECT o_custkey, o_orderkey,
                   round(o_totalprice - lag(o_totalprice)
                         OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey), 2) AS price_delta
            FROM orders
        """,
        "range_join_bands": """
            SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS band,
                   count(*) AS cnt,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders WHERE o_totalprice >= 0 AND o_totalprice < 500000
            GROUP BY 1
        """,
        "salted_join_agg": """
            SELECT o_orderpriority,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "sql_tpch_q3": _TPCH_Q3,
        "sql_tpch_q5": _TPCH_Q5,
        "sql_tpch_q1": _TPCH_Q1,
        "sql_tpch_q2": _TPCH_Q2,
        "sql_tpch_q4": _TPCH_Q4,
        "sql_tpch_q6": _TPCH_Q6,
        "sql_tpch_q7": _TPCH_Q7,
        "sql_tpch_q9": _TPCH_Q9,
        "sql_tpch_q11": _TPCH_Q11,
        "sql_tpch_q12": _TPCH_Q12,
        "sql_tpch_q13": _TPCH_Q13,
        "sql_tpch_q14": _TPCH_Q14,
        "sql_tpch_q15": _TPCH_Q15,
        "sql_tpch_q16": _TPCH_Q16,
        "sql_tpch_q19": _TPCH_Q19,
        "sql_tpch_q20": _TPCH_Q20,
        "sql_tpch_q21": _TPCH_Q21,
        "sql_tpch_q8": _TPCH_Q8,
        "sql_tpch_q10": _TPCH_Q10,
        "sql_tpch_q17": _TPCH_Q17,
        "sql_tpch_q18": _TPCH_Q18,
        "sql_tpch_q22": _TPCH_Q22,
        "funnel_steps": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS t, event_type FROM events
            ),
            u1 AS (
              SELECT user_id, min(t) AS t1 FROM e
              WHERE event_type = 'view' GROUP BY user_id
            ),
            u2 AS (
              SELECT e.user_id, min(t) AS t2 FROM e JOIN u1 USING (user_id)
              WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id
            ),
            u3 AS (
              SELECT e.user_id, min(t) AS t3 FROM e JOIN u2 USING (user_id)
              WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id
            )
            SELECT * FROM (
              SELECT 1 AS step, 'view' AS event_type, count(*) AS users FROM u1
              UNION ALL
              SELECT 2, 'click', count(*) FROM u2
              UNION ALL
              SELECT 3, 'purchase', count(*) FROM u3
            )
        """,
        "retention_cohorts": """
            WITH act AS (
              SELECT user_id AS u, CAST(ts AS DATE) AS d FROM events
            ),
            cohort AS (SELECT u, min(d) AS cohort_day FROM act GROUP BY u)
            SELECT cohort_day,
                   CAST(floor(date_diff('day', cohort_day, d) / 7.0) AS BIGINT)
                     AS week_offset,
                   count(DISTINCT u) AS active_users
            FROM act JOIN cohort USING (u)
            GROUP BY cohort_day, week_offset
        """,
        "bm25_topk": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
              FROM documents WHERE length(trim(text)) > 0
            ),
            dl AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                     END AS dl
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dl
            ),
            tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM toks
              WHERE tok IN ('dup', 'spark', 'merge') GROUP BY doc_id, tok
            ),
            dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
            SELECT doc_id,
                   round(SUM(
                     ln(1 + (CAST(n_docs - df AS DOUBLE) + 0.5)
                            / (CAST(df AS DOUBLE) + 0.5))
                     * (CAST(tf AS DOUBLE) * 2.2)
                     / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
                   ), 6) AS score
            FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id), stats
            GROUP BY doc_id
            ORDER BY score DESC, doc_id
            LIMIT 15
        """,
        "paragraph_dedup": """
            WITH d AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents
            ),
            chunks AS (
              SELECT doc_id, i AS chunk_idx,
                     array_to_string(
                       toks[i*16+1 : least((i+1)*16, len(toks))], ' ')
                       AS chunk_text
              FROM d, LATERAL unnest(
                range(CAST(greatest(1, ceil(len(toks) / 16.0)) AS BIGINT)))
                AS t(i)
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) AS rn
              FROM chunks
            ),
            kept AS (SELECT doc_id, chunk_idx, chunk_text FROM ranked WHERE rn = 1),
            rebuilt AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS new_text
              FROM kept GROUP BY doc_id
            ),
            totals AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
            SELECT t.doc_id, t.n_chunks,
                   coalesce(r.n_kept, 0) AS n_kept,
                   md5(coalesce(r.new_text, '')) AS text_md5
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)
        """,
        "range_shard_layout": """
            SELECT CAST(8 AS BIGINT) AS n_shards,
                   count(*) AS total_rows,
                   count(DISTINCT epoch_us(ts)) AS distinct_keys,
                   TRUE AS all_sorted,
                   CAST(0 AS BIGINT) AS overlap_pairs
            FROM events
        """,
        "compaction_roundtrip": """
            SELECT CAST(64 AS INT) AS files_before,
                   CAST(4 AS INT) AS files_after,
                   count(*) AS total_rows,
                   count(DISTINCT event_id) AS distinct_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events
        """,
        "sample_k_per_group": """
            SELECT source, doc_id, rn FROM (
              SELECT source, doc_id,
                     CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
                       AS rn
              FROM documents
            ) WHERE rn <= 20
        """,
        "inter_event_gaps": """
            WITH g AS (
              SELECT event_type,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY epoch_us(ts)) AS gap_us
              FROM events
            )
            SELECT event_type, count(*) AS n_gaps,
                   round(CAST(SUM(gap_us) AS DOUBLE) / count(*) / 1000000.0, 6)
                     AS mean_gap_s,
                   round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_gap_s,
                   round(quantile_cont(gap_us, 0.9) / 1000000.0, 6) AS p90_gap_s
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY event_type
        """,
        "two_stage_distinct": """
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "zone_map_prune": """
            WITH b AS (
              SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
            )
            SELECT CAST(16 AS INT) AS n_files_total,
                   TRUE AS pruned,
                   count(*) AS rows_in_range,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events, b
            WHERE epoch_us(ts) BETWEEN mn + (mx - mn) * 2 // 5
                                   AND mn + (mx - mn) // 2
        """,
        "schema_evolution": """
            SELECT CASE WHEN event_id % 2 = 0 THEN '(legacy)'
                        ELSE event_type END AS tag,
                   count(*) AS cnt,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY tag
        """,
        "referential_integrity": """
            SELECT 'lineitem_orders' AS "check",
                   count(*) AS orphan_rows,
                   count(DISTINCT fk) AS distinct_orphan_keys,
                   (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
                     AS null_fk_rows
            FROM (SELECT l_orderkey AS fk FROM lineitem
                  WHERE l_orderkey IS NOT NULL
                    AND l_orderkey NOT IN (
                      SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)) t
            UNION ALL
            SELECT 'orders_customer', count(*), count(DISTINCT fk),
                   (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
            FROM (SELECT o_custkey AS fk FROM orders
                  WHERE o_custkey IS NOT NULL
                    AND o_custkey NOT IN (
                      SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)) t
        """,
        "pk_uniqueness": """
            SELECT 'customer_pk' AS "check", count(*) AS total_rows,
                   count(DISTINCT c_custkey) AS distinct_keys,
                   count(*) - count(DISTINCT c_custkey) AS duplicate_rows
            FROM customer
            UNION ALL
            SELECT 'orders_pk', count(*), count(DISTINCT o_orderkey),
                   count(*) - count(DISTINCT o_orderkey)
            FROM orders
        """,
        "incremental_rollup": """
            SELECT event_type, count(*) AS cnt,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY event_type
        """,
        "hourly_anomalies": """
            WITH c AS (
              SELECT event_type, date_trunc('hour', ts) AS hour,
                     count(*) AS cnt
              FROM events GROUP BY event_type, hour
            ),
            m AS (
              SELECT *,
                     count(*) OVER (PARTITION BY event_type) AS n,
                     SUM(cnt) OVER (PARTITION BY event_type) AS s,
                     SUM(cnt * cnt) OVER (PARTITION BY event_type) AS ss
              FROM c
            )
            SELECT event_type, hour, cnt,
                   round((cnt - CAST(s AS DOUBLE) / n)
                         / sqrt(CAST(ss AS DOUBLE) / n
                                - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)),
                         6) AS z
            FROM m
            WHERE CAST(ss AS DOUBLE) / n
                    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
              AND abs(round((cnt - CAST(s AS DOUBLE) / n)
                            / sqrt(CAST(ss AS DOUBLE) / n
                                   - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)),
                            6)) > 2.0
        """,
        "event_transitions": """
            WITH seq AS (
              SELECT user_id, event_type,
                     lag(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS prev_type
              FROM events
            ),
            matrix AS (
              SELECT prev_type AS from_type, event_type AS to_type,
                     count(*) AS cnt
              FROM seq WHERE prev_type IS NOT NULL
              GROUP BY from_type, to_type
            )
            SELECT from_type, to_type, cnt,
                   round(CAST(cnt AS DOUBLE)
                         / SUM(cnt) OVER (PARTITION BY from_type), 6) AS p
            FROM matrix
        """,
        "hll_rollup": """
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_distinct,
                   TRUE AS within_bound
            FROM events GROUP BY event_type
        """,
        "ngram_diversity": """
            WITH toks AS (
              SELECT source AS s,
                     string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents WHERE length(trim(text)) > 0
            ),
            grams AS (
              SELECT s, t[i] || ' ' || t[i + 1] AS g
              FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)
              WHERE len(t) >= 2
            )
            SELECT s AS source, count(*) AS total_ngrams,
                   count(DISTINCT g) AS distinct_ngrams,
                   round(count(DISTINCT g) / CAST(count(*) AS DOUBLE), 6)
                     AS diversity
            FROM grams GROUP BY s
        """,
        "trend_by_group": """
            WITH mn AS (SELECT min(epoch_us(ts)) AS mn FROM events),
            pts AS (
              SELECT event_type,
                     CAST(floor((epoch_us(ts) - mn) / 3600000000.0) AS BIGINT) AS x,
                     CAST(round(value * 100) AS BIGINT) AS y
              FROM events, mn
            ),
            m AS (
              SELECT event_type, count(*) AS n,
                     SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                     SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                     SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
                     SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                     SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
              FROM pts GROUP BY event_type
            ),
            d AS (
              SELECT event_type, n,
                     CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                     CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
                     CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
              FROM m
            ),
            s AS (
              SELECT *,
                     (nd * sxyd - sxd * syd) AS cov_n,
                     (nd * sxxd - sxd * sxd) AS var_x,
                     (nd * syyd - syd * syd) AS var_y
              FROM d
            )
            SELECT event_type, n,
                   round(CASE WHEN var_x > 0 THEN (cov_n / var_x) / 100.0 END, 6)
                     AS slope_per_hour,
                   round(CASE WHEN var_x > 0 THEN
                           (syd / nd - ((cov_n / var_x) * sxd) / nd) / 100.0
                         END, 6) AS intercept,
                   round(CASE WHEN var_x * var_y > 0 THEN
                           cov_n / sqrt(var_x * var_y)
                         END, 6) AS pearson_r
            FROM s
        """,
        "chi_square": """
            WITH t AS (
              SELECT event_type AS a,
                     CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) % 24 AS b,
                     count(*) AS o
              FROM events GROUP BY a, b
            ),
            c AS (
              SELECT a, b, o,
                     CAST(SUM(o) OVER (PARTITION BY a) AS DOUBLE)
                       * SUM(o) OVER (PARTITION BY b)
                       / SUM(o) OVER () AS e
              FROM t
            )
            SELECT round(SUM((o - e) * (o - e) / e), 6) AS chi2,
                   (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
                   count(*) AS cells
            FROM c
        """,
        "winsorized_stats": """
            WITH bounds AS (
              SELECT event_type,
                     quantile_cont(value, 0.05) AS lo,
                     quantile_cont(value, 0.95) AS hi
              FROM events GROUP BY event_type
            ),
            c AS (
              SELECT e.event_type,
                     least(greatest(value, lo), hi) AS v
              FROM events e JOIN bounds USING (event_type)
            )
            SELECT event_type, count(*) AS n,
                   round(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
                         / count(*), 6) AS winsorized_mean,
                   round(min(v), 6) AS clamp_lo,
                   round(max(v), 6) AS clamp_hi
            FROM c GROUP BY event_type
        """,
        "memory_histogram": """
            SELECT CASE
              WHEN CAST(floor(l_extendedprice) AS BIGINT) < 1 THEN 'NO_MAPPING'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 256 THEN '256 B'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 512 THEN '512 B'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 768 THEN '768 B'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 1024 THEN '1 KB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 2048 THEN '2 KB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 4096 THEN '4 KB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 8192 THEN '8 KB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 16384 THEN '16 KB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 32768 THEN '32 KB'
              WHEN CAST(floor(l_extendedprice) AS BIGINT) <= 65536 THEN '64 KB'
              ELSE '64 KB+' END AS bin,
              count(*) AS cnt
            FROM lineitem GROUP BY 1
        """,
        "file_type_histogram": """
            SELECT CASE p_partkey % 8
              WHEN 0 THEN '_SUCCESS'
              WHEN 1 THEN 'PART'
              WHEN 2 THEN 'SUMMARY_LOG'
              WHEN 3 THEN 'CSV'
              WHEN 4 THEN 'PARQUET'
              WHEN 5 THEN 'GZIP'
              WHEN 6 THEN 'APP_LOG'
              ELSE 'UNKNOWN' END AS file_type,
              count(*) AS cnt
            FROM part GROUP BY 1
        """,
        "storage_type_histogram": """
            SELECT CASE o_orderkey % 16
              WHEN 15 THEN 'LAZY_PERSIST'
              WHEN 12 THEN 'ALL_SSD'
              WHEN 10 THEN 'ONE_SSD'
              WHEN 7 THEN 'HOT'
              WHEN 5 THEN 'WARM'
              WHEN 2 THEN 'COLD'
              WHEN 1 THEN 'PROVIDED'
              ELSE 'NO_MAPPING' END AS policy,
              count(*) AS cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders GROUP BY 1
        """,
        "relative_time_filter": f"""
            SELECT count(*) AS cnt, round(sum("value"), 6) AS sum_value
            FROM events
            WHERE epoch_ms(ts) >= {NOW_MS - 90 * 86_400_000}
              AND epoch_ms(ts) <= {NOW_MS - 30 * 86_400_000}
        """,
        "subtree_agg": """
            WITH f AS (
              SELECT '/' || p_type || '/' || replace(p_name, ' ', '/')
                     || '/part_' || p_partkey AS path,
                     p_retailprice AS sz
              FROM part
            ),
            e AS (SELECT string_split(path, '/') AS parts, sz FROM f)
            SELECT CASE WHEN i = 1 THEN '/'
                        ELSE array_to_string(parts[1:i], '/') END AS ancestor,
                   count(*) AS n_files,
                   CAST(SUM(CAST(sz AS DECIMAL(18,2))) AS DOUBLE) AS total_size
            FROM e, unnest(generate_series(1, len(parts) - 1)) AS t(i)
            GROUP BY 1
        """,
        "suggestions_buckets": """
            SELECT count(*) AS n_total,
                   CAST(SUM(CASE WHEN n_chars = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
                   CAST(SUM(CASE WHEN n_chars > 0 AND n_chars <= 1024 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_tiny,
                   CAST(SUM(CASE WHEN n_chars > 1024 AND n_chars <= 1048576 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_small
            FROM documents
        """,
        "window_ntile": """
            SELECT o_orderpriority, o_orderkey,
                   ntile(4) OVER w AS quartile,
                   round(percent_rank() OVER w, 6) AS pr
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        """,
        "nna_sql_histogram": """
            SELECT 'u' || CAST(p_partkey % 5 AS VARCHAR) AS "user",
                   count(*) AS "count"
            FROM part
            WHERE CAST(floor(p_retailprice) AS BIGINT) > 500
            GROUP BY 1
        """,
        "quota_flags": """
            WITH f AS (
              SELECT '/' || p_type || '/' || replace(p_name, ' ', '/')
                     || '/part_' || p_partkey AS path,
                     CAST(floor(p_retailprice) AS BIGINT) AS sz
              FROM part
            ),
            e AS (SELECT string_split(path, '/') AS parts, path, sz FROM f),
            anc AS (
              SELECT path, sz, array_to_string(parts[1:i], '/') AS a
              FROM e, unnest(generate_series(2, len(parts) - 1)) AS t(i)
            ),
            flags AS (
              SELECT path, any_value(sz) AS sz,
                     bool_or(length(a) % 3 = 0) AS isUnderNsQuota,
                     bool_or(length(a) % 4 = 0) AS isUnderDsQuota
              FROM anc GROUP BY path
            )
            SELECT isUnderNsQuota, isUnderDsQuota,
                   count(*) AS cnt, CAST(SUM(sz) AS BIGINT) AS sum_size
            FROM flags GROUP BY 1, 2
        """,
        "suggestions_per_user": _suggestions_oracle(),
        "file_age_histogram": """
            WITH f AS (
              SELECT p_partkey % 200 AS d,
                     CAST(floor(p_retailprice) AS BIGINT) * (1 + p_partkey % 3) AS dsc
              FROM part
            )
            SELECT CAST(greatest(1, CAST(ceil(d / 30.0) AS BIGINT)) AS VARCHAR)
                     || ' Months' AS age,
                   count(*) AS "count", CAST(SUM(dsc) AS BIGINT) AS "diskspaceConsumed"
            FROM f GROUP BY 1
        """,
        "top_directories": """
            WITH f AS (
              SELECT '/' || p_type || '/' || replace(p_name, ' ', '/')
                     || '/part_' || p_partkey AS path,
                     CAST(floor(p_retailprice) AS BIGINT) * (1 + p_partkey % 3) AS dsc
              FROM part
            ),
            p AS (SELECT string_split(path, '/') AS parts, dsc FROM f),
            g AS (
              SELECT array_to_string(parts[1:3], '/') AS directory,
                     count(*) AS "count", CAST(SUM(dsc) AS BIGINT) AS "diskspaceConsumed"
              FROM p GROUP BY 1
            )
            SELECT * FROM g ORDER BY "count" DESC, directory LIMIT 10
        """,
        "quota_report": """
            WITH f AS (
              SELECT '/' || p_type || '/' || replace(p_name, ' ', '/')
                     || '/part_' || p_partkey AS path
              FROM part
            ),
            e AS (SELECT string_split(path, '/') AS parts FROM f),
            anc AS (
              SELECT DISTINCT CASE WHEN i = 1 THEN '/'
                                   ELSE array_to_string(parts[1:i], '/') END AS d
              FROM e, unnest(generate_series(1, len(parts) - 1)) AS t(i)
            ),
            q AS (
              SELECT d,
                     CASE WHEN length(d) % 3 = 0 THEN CAST(9000 AS BIGINT) END AS nsq,
                     CASE WHEN length(d) % 3 = 0 THEN CAST(100 AS BIGINT) END AS nsu,
                     CASE WHEN length(d) % 4 = 0 THEN CAST(9999999999 AS BIGINT) END AS dsq,
                     CASE WHEN length(d) % 4 = 0 THEN CAST(1000 AS BIGINT) END AS dsu
              FROM anc
            ),
            r AS (
              SELECT *,
                     CASE WHEN nsq > 0
                          THEN CAST(floor(100.0 * nsu / nsq) AS BIGINT) END AS nsr,
                     CASE WHEN dsq > 0
                          THEN CAST(floor(100.0 * dsu / dsq) AS BIGINT) END AS dsr
              FROM q WHERE nsq IS NOT NULL OR dsq IS NOT NULL
            )
            SELECT 'hdfs' AS "user", d AS directory,
                   nsq AS "nsQuota", nsu AS "nsQuotaUsed", nsr AS "nsQuotaRatioUsed",
                   dsq AS "dsQuota", dsu AS "dsQuotaUsed", dsr AS "dsQuotaRatioUsed",
                   (nsr >= 85 OR dsr >= 85) AS "nearLimit"
            FROM r
        """,
        "history_roundtrip": f"""
            WITH f AS (
              SELECT CAST(floor(p_retailprice) AS BIGINT) AS size,
                     (1 + p_partkey % 3) AS repl,
                     ({now} - (p_partkey % 400) * 86400000) AS access_time
              FROM part
            ),
            sweeps AS (SELECT * FROM (VALUES ({now}), ({now + 7 * 86_400_000})) AS s(ts))
            SELECT s.ts AS "sweepTs",
                   count(*) AS "numFiles",
                   CAST(sum(CASE WHEN size = 0 THEN 1 ELSE 0 END) AS BIGINT) AS "emptyFiles",
                   CAST(sum(CASE WHEN size > 0 AND size <= 1024 THEN 1 ELSE 0 END) AS BIGINT) AS "tinyFiles",
                   CAST(sum(CASE WHEN size > 1024 AND size <= 1048576 THEN 1 ELSE 0 END) AS BIGINT) AS "smallFiles",
                   CAST(sum(CASE WHEN access_time <= s.ts - 31536000000 THEN 1 ELSE 0 END) AS BIGINT) AS "oldFiles1yr",
                   CAST(sum(CASE WHEN access_time <= s.ts - 63072000000 THEN 1 ELSE 0 END) AS BIGINT) AS "oldFiles2yr",
                   CAST(sum(size * repl) AS BIGINT) AS "totalDiskspace"
            FROM sweeps s CROSS JOIN f
            GROUP BY 1 ORDER BY 1
        """,
        "dir_scalars": """
            WITH f AS (
              SELECT '/' || p_type || '/' || replace(p_name, ' ', '/')
                     || '/part_' || p_partkey AS path
              FROM part
            ),
            e AS (SELECT string_split(path, '/') AS parts FROM f),
            anc AS (
              SELECT DISTINCT CASE WHEN i = 1 THEN '/'
                                   ELSE array_to_string(parts[1:i], '/') END AS d
              FROM e, unnest(generate_series(1, len(parts) - 1)) AS t(i)
            )
            SELECT count(*) AS "numDirs", count(*) AS "emptyDirs",
                   CAST(0 AS BIGINT) AS "emptyDirs24h",
                   CAST(0 AS BIGINT) AS "emptyDirs1yr"
            FROM anc
        """,
        "pii_scrub": r'''
            WITH f AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or 555-123-4567' AS t
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(t, '\+?[0-9][0-9 ()-]{7,}[0-9]')) AS n_phone,
                   len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn,
                   len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ipv4,
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                       t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                          '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[SSN]', 'g'),
                          '\+?[0-9][0-9 ()-]{7,}[0-9]', '[PHONE]', 'g'),
                          '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IPV4]', 'g') AS scrubbed
            FROM f
        ''',
        "term_stats": r"""
            WITH toks AS (
              SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
              FROM documents WHERE length(trim(text)) > 0
            ),
            s AS (
              SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
              FROM toks GROUP BY 1
            ),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
            SELECT term, tf, df, round(ln((n_docs + 1.0) / (df + 1.0)), 6) AS idf
            FROM s, n
            ORDER BY tf DESC, term LIMIT 100
        """,
        "issue_ranking": f"""
            SELECT "user", "tinyFiles" FROM ({_suggestions_oracle()})
            ORDER BY "tinyFiles" DESC, "user" LIMIT 3
        """,
        "file_type_report": """
            WITH f AS (
              SELECT 'u' || CAST(p_partkey % 5 AS VARCHAR) AS "user",
                     CASE p_partkey % 8
                       WHEN 0 THEN '_SUCCESS'
                       WHEN 1 THEN 'PART'
                       WHEN 2 THEN 'SUMMARY_LOG'
                       WHEN 3 THEN 'CSV'
                       WHEN 4 THEN 'PARQUET'
                       WHEN 5 THEN 'GZIP'
                       WHEN 6 THEN 'APP_LOG'
                       ELSE 'UNKNOWN' END AS "fileType",
                     CAST(floor(p_retailprice) AS BIGINT) * (1 + p_partkey % 3) AS dsc
              FROM part
            )
            SELECT "user", "fileType", count(*) AS "count",
                   CAST(SUM(dsc) AS BIGINT) AS "diskspaceConsumed"
            FROM f GROUP BY 1, 2
        """,
        "dump_inode": f"""
            WITH f AS (
              SELECT p_partkey AS pk,
                     '/' || p_type || '/' || replace(p_name, ' ', '/')
                     || '/part_' || p_partkey AS path,
                     CAST(floor(p_retailprice) AS BIGINT) AS size
              FROM part WHERE p_partkey = 42
            )
            SELECT pk + 1000000 AS id, path, 'part_' || pk AS name,
                   'u' || CAST(pk % 5 AS VARCHAR) AS "user",
                   'g' || CAST(pk % 3 AS VARCHAR) AS "group",
                   size AS "fileSize", CAST(1 + pk % 3 AS INT) AS "fileReplica",
                   length(path) - length(replace(path, '/', '')) AS depth,
                   755 AS permission,
                   (pk % 4) * (1 + pk % 3) AS "numReplicas",
                   size * (1 + pk % 3) AS "diskspaceConsumed",
                   150 + 150 * (pk % 4) AS "memoryConsumed",
                   strftime(make_timestamp(({NOW_MS}::BIGINT - (pk % 200) * 86400000) * 1000),
                            '%m/%d/%Y') AS "modDate",
                   strftime(make_timestamp(({NOW_MS}::BIGINT - (pk % 400) * 86400000) * 1000),
                            '%m/%d/%Y') AS "accessDate"
            FROM f
        """,
        "inode_columns": f"""
            WITH f AS (
              SELECT p_partkey AS pk,
                     '/' || p_type || '/' || replace(p_name, ' ', '/')
                     || '/part_' || p_partkey AS path,
                     CAST(floor(p_retailprice) AS BIGINT) AS size
              FROM part
            )
            SELECT pk + 1000000 AS id,
                   length(path) - length(replace(path, '/', '')) AS depth,
                   755 AS permission,
                   (pk % 4) * (1 + pk % 3) AS "numReplicas",
                   size * (1 + pk % 3) AS "diskspaceConsumed",
                   150 + 150 * (pk % 4) AS "memoryConsumed",
                   0 AS "nsQuotaRatioUsed",
                   strftime(make_timestamp(({NOW_MS}::BIGINT - (pk % 200) * 86400000) * 1000),
                            '%m/%d/%Y') AS "modDate",
                   CASE WHEN pk = 45454 THEN 'APP_LOG' ELSE 'UNKNOWN' END AS "fileType"
            FROM f
        """,
        "registered_dir_stats": """
            WITH f AS (
              SELECT '/' || p_type || '/' || replace(p_name, ' ', '/')
                     || '/part_' || p_partkey AS path,
                     CAST(floor(p_retailprice) AS BIGINT) AS sz,
                     (1 + p_partkey % 3) AS repl
              FROM part
            )
            SELECT d AS directory, count(*) AS count,
                   CAST(SUM(sz * repl) AS BIGINT) AS diskspaceConsumed
            FROM f, (VALUES ('/ECONOMY'), ('/PROMO'), ('/STANDARD')) AS v(d)
            WHERE starts_with(path, d || '/')
            GROUP BY 1
        """,
        "json_extract": """
            SELECT json_extract_string(props, '$.k')::BIGINT AS k,
                   count(*) AS cnt, round(sum("value"), 6) AS sum_value
            FROM events GROUP BY 1
        """,
        "dedup_exact": r"""
            SELECT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text,
                   min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "dedup_keep_best": r"""
            WITH norm AS (
              SELECT doc_id, length(text) AS q,
                     lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text
              FROM documents
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY norm_text ORDER BY q DESC, doc_id ASC) AS rn
              FROM norm
            ),
            grouped AS (
              SELECT norm_text, max(q) AS keep_quality, count(*) AS dup_count
              FROM norm GROUP BY 1
            )
            SELECT g.norm_text, r.doc_id AS keep_id, g.keep_quality, g.dup_count
            FROM grouped g JOIN ranked r ON r.norm_text = g.norm_text AND r.rn = 1
        """,
        "gopher_quality": r"""
            WITH toks AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE list_transform(
                                 regexp_split_to_array(trim(text), '\s+'),
                                 x -> lower(x)) END AS t,
                     string_split(text, chr(10)) AS lines
              FROM documents
            ),
            feats AS (
              SELECT doc_id,
                     len(t) AS n_words,
                     greatest(len(t), 1) AS sw,
                     coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS sum_len,
                     len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym,
                     greatest(len(lines), 1) AS sl,
                     len(list_filter(lines, l -> regexp_matches(l, '^\s*([*\-•])'))) AS n_bullet,
                     len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS n_ellipsis,
                     len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
                     len(list_filter(t, x -> list_contains(
                       ['the','be','to','of','and'], x))) AS stop_hits
              FROM toks
            )
            SELECT doc_id, n_words,
                   round(sum_len / sw, 6) AS mean_word_len,
                   round(n_sym / sw, 6) AS symbol_ratio,
                   round(n_alpha / sw, 6) AS alpha_word_frac,
                   stop_hits AS stopword_hits,
                   (n_words >= 10 AND n_words <= 200) AS ok_word_count,
                   (sum_len / sw >= 3.0 AND sum_len / sw <= 10.0) AS ok_mean_word_len,
                   (n_sym / sw <= 0.1) AS ok_symbol_ratio,
                   (n_bullet / sl <= 0.9) AS ok_bullet,
                   (n_ellipsis / sl <= 0.3) AS ok_ellipsis,
                   (n_alpha / sw >= 0.8) AS ok_alpha_words,
                   (stop_hits >= 2) AS ok_stopwords,
                   ((n_words >= 10 AND n_words <= 200)
                    AND (sum_len / sw >= 3.0 AND sum_len / sw <= 10.0)
                    AND (n_sym / sw <= 0.1)
                    AND (n_bullet / sl <= 0.9)
                    AND (n_ellipsis / sl <= 0.3)
                    AND (n_alpha / sw >= 0.8)
                    AND (stop_hits >= 2)) AS passes
            FROM feats
        """,
        "quality_classifier": r"""
            WITH d AS (
              SELECT doc_id,
                     list_transform(
                       string_split_regex(trim(text), '\s+'),
                       t -> ((list_reduce(
                                list_prepend(CAST(0 AS BIGINT),
                                  list_transform(string_split_regex(t, ''),
                                                 c -> CAST(ascii(c) AS BIGINT))),
                                (a, b) -> (a * 31 + b) % 2147483647)
                              % 4096) * 2654435761 + 104729) % 2001 - 1000
                     ) AS ws
              FROM documents
            )
            SELECT doc_id,
                   len(ws) AS n_tokens,
                   CAST(CAST(round(CAST(list_sum(ws) AS DOUBLE) / len(ws), 6)
                             AS DECIMAL(18,6)) AS DOUBLE) AS score,
                   CAST(round(CAST(list_sum(ws) AS DOUBLE) / len(ws), 6)
                        AS DECIMAL(18,6)) >= 0 AS keep
            FROM d
        """,
        "chunk_documents": r"""
            WITH d AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents
            )
            SELECT doc_id,
                   i AS chunk_idx,
                   len(toks[i*32+1 : least((i+1)*32, len(toks))]) AS n_chunk_tokens,
                   array_to_string(toks[i*32+1 : least((i+1)*32, len(toks))], ' ')
                     AS chunk_text
            FROM d, LATERAL unnest(
              range(CAST(greatest(1, ceil(len(toks) / 32.0)) AS BIGINT))) AS t(i)
        """,
        "approx_quantile_bound": """
            SELECT l_returnflag, count(*) AS n, true AS within_bound
            FROM lineitem GROUP BY 1
        """,
        "quality_quantile": r"""
            WITH scored AS (
              SELECT doc_id, source,
                     len(ws) AS n_tokens,
                     CAST(round(CAST(list_sum(ws) AS DOUBLE) / len(ws), 6)
                          AS DECIMAL(18,6)) AS score
              FROM (
                SELECT doc_id, source,
                       list_transform(
                         string_split_regex(trim(text), '\s+'),
                         t -> ((list_reduce(
                                  list_prepend(CAST(0 AS BIGINT),
                                    list_transform(string_split_regex(t, ''),
                                                   c -> CAST(ascii(c) AS BIGINT))),
                                  (a, b) -> (a * 31 + b) % 2147483647)
                                % 4096) * 2654435761 + 104729) % 2001 - 1000
                       ) AS ws
                FROM documents
              )
            ), ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY score DESC, doc_id) AS rank,
                     count(*) OVER (PARTITION BY source) AS group_n
              FROM scored
            )
            SELECT doc_id, source, n_tokens,
                   CAST(score AS DOUBLE) AS score, score >= 0 AS keep, rank
            FROM ranked WHERE rank <= CEIL(0.25 * group_n)
        """,
        "dsir_weights": r"""
            WITH toks AS (
              SELECT doc_id, (source = 'src0') AS is_target,
                     unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(trim(text), '\s+') END) AS tok
              FROM documents
            ),
            per_tok AS (
              SELECT tok, count(*) AS c_raw,
                     sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
              FROM toks GROUP BY 1
            ),
            tot AS (
              SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt, count(*) AS vocab
              FROM per_tok
            ),
            ratios AS (
              SELECT tok,
                     CAST(round(
                       ln((c_tgt + 1.0) / (n_tgt + 1.0 * vocab))
                       - ln((c_raw + 1.0) / (n_raw + 1.0 * vocab)), 9)
                     AS DECIMAL(20,9)) AS log_ratio
              FROM per_tok, tot
            )
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(CAST(round(sum(log_ratio), 6) AS DECIMAL(18,6))
                        AS DOUBLE) AS weight
            FROM toks JOIN ratios USING (tok)
            GROUP BY 1
        """,
        "incremental_dedup": r"""
            WITH batch AS (
              SELECT *, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text
              FROM documents WHERE doc_id % 10 = 7
            ),
            corpus AS (
              SELECT DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text
              FROM documents WHERE doc_id % 10 <> 7
            ),
            winners AS (
              SELECT norm_text, min(doc_id) AS doc_id FROM batch GROUP BY 1
            )
            SELECT w.doc_id, b.source, b.n_chars
            FROM winners w
            JOIN batch b ON b.doc_id = w.doc_id
            WHERE w.norm_text NOT IN (SELECT norm_text FROM corpus)
        """,
        "temperature_mixture": r"""
            WITH sizes AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(n_chars) AS BIGINT) AS size
              FROM documents GROUP BY 1
            ),
            powed AS (SELECT *, pow(size, 1.0 / 3.333333) AS p FROM sizes),
            tot AS (SELECT sum(size) AS tot_size, sum(p) AS tot_p FROM powed)
            SELECT source, n_docs, size,
                   round(size / tot_size, 6) AS natural_share,
                   round(p / tot_p, 6) AS rate,
                   round(10000000 * (round(p / tot_p, 6) / size), 6) AS epochs
            FROM powed, tot ORDER BY source
        """,
        "fuzzy_dedup_pipeline": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                           for i in range(1, len(t) - 1)])) AS shingle
              FROM toks
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
            rare AS (
              SELECT sh.doc_id, sh.shingle FROM sh
              JOIN dfc USING (shingle) WHERE dfc.df <= 100
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM rare a JOIN rare b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            ),
            common AS (
              SELECT c.id_a, c.id_b, count(*) AS c
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT id_a, id_b FROM common
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE round(c / (sa.n + sb.n - c), 6) >= 0.6
            ),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            reach AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            clusters AS (
              SELECT d.doc_id AS node,
                     least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster
              FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
              GROUP BY d.doc_id
            ),
            ranked AS (
              SELECT d.source, d.n_chars, c.cluster,
                     row_number() OVER (PARTITION BY c.cluster
                                        ORDER BY length(d.text) DESC,
                                                 d.doc_id ASC) AS rn
              FROM documents d JOIN clusters c ON c.node = d.doc_id
            ),
            kept AS (
              SELECT source, count(*) AS n_kept,
                     CAST(sum(n_chars) AS BIGINT) AS chars_kept
              FROM ranked WHERE rn = 1 GROUP BY 1
            ),
            totals AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
            SELECT t.source, t.n_docs, k.n_kept,
                   t.n_docs - k.n_kept AS n_dropped, k.chars_kept
            FROM totals t JOIN kept k USING (source) ORDER BY source
        """,
        "decontaminate": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                           for i in range(1, len(t) - 1)])) AS shingle
              FROM toks
            ),
            ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 = 0),
            evn AS (SELECT doc_id, count(*) AS n_eval FROM ev GROUP BY 1),
            tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0),
            hits AS (
              SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, count(*) AS n_common
              FROM tr JOIN ev ON tr.shingle = ev.shingle
              GROUP BY 1, 2
            ),
            bad AS (
              SELECT DISTINCT train_id FROM hits
              JOIN evn ON evn.doc_id = eval_id
              WHERE round(n_common / evn.n_eval, 6) >= 0.05
            )
            SELECT source, count(*) AS n_kept,
                   CAST(sum(n_chars) AS BIGINT) AS chars_kept
            FROM documents d
            WHERE d.doc_id % 50 <> 0
              AND d.doc_id NOT IN (SELECT train_id FROM bad)
            GROUP BY 1 ORDER BY 1
        """,
        "ngram_jaccard_pairs": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                           for i in range(1, len(t) - 1)])) AS shingle
              FROM toks
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
            rare AS (
              SELECT sh.doc_id, sh.shingle FROM sh
              JOIN dfc USING (shingle) WHERE dfc.df <= 100
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM rare a JOIN rare b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            ),
            common AS (
              SELECT c.id_a, c.id_b, count(*) AS c
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(c / (sa.n + sb.n - c), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            ORDER BY jaccard DESC, id_a, id_b LIMIT 20
        """,
        "contamination": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                           for i in range(1, len(t) - 1)])) AS shingle
              FROM toks
            ),
            ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 = 0),
            evn AS (SELECT doc_id, count(*) AS n_eval FROM ev GROUP BY 1),
            tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0),
            hits AS (
              SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, count(*) AS n_common
              FROM tr JOIN ev ON tr.shingle = ev.shingle
              GROUP BY 1, 2
            )
            SELECT train_id, eval_id, n_common,
                   round(n_common / evn.n_eval, 6) AS overlap_frac
            FROM hits JOIN evn ON evn.doc_id = eval_id
            WHERE round(n_common / evn.n_eval, 6) >= 0.05
        """,
        "dedup_clusters": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                           for i in range(1, len(t) - 1)])) AS shingle
              FROM toks
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
            rare AS (
              SELECT sh.doc_id, sh.shingle FROM sh
              JOIN dfc USING (shingle) WHERE dfc.df <= 100
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM rare a JOIN rare b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            ),
            common AS (
              SELECT c.id_a, c.id_b, count(*) AS c
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT id_a, id_b FROM common
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE round(c / (sa.n + sb.n - c), 6) >= 0.6
            ),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            reach AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT d.doc_id AS node,
                   least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster
            FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
            GROUP BY d.doc_id
        """,
        "embedding_dup_clusters": """
            WITH RECURSIVE v AS (
              SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
              FROM embeddings
            ),
            n AS (
              SELECT vec_id, e,
                     sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                      (a, b) -> a + b)) AS nrm
              FROM v
            ),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM n a JOIN n b ON a.vec_id < b.vec_id
              WHERE round(list_reduce(list_prepend(0.0,
                      [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                      (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= 0.4
            ),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            reach AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT emb.vec_id AS node,
                   least(emb.vec_id, coalesce(min(r.b), emb.vec_id)) AS cluster
            FROM embeddings emb LEFT JOIN reach r ON r.a = emb.vec_id
            GROUP BY emb.vec_id
            ORDER BY node
        """,
        "embedding_dup_pairs": """
            WITH v AS (
              SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
              FROM embeddings
            ),
            n AS (
              SELECT vec_id, e,
                     sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                      (a, b) -> a + b)) AS nrm
              FROM v
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_reduce(list_prepend(0.0,
                           [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                           (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cos_sim
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE round(list_reduce(list_prepend(0.0,
                    [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                    (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= 0.4
        """,
        "ann_topk": """
            WITH v AS (
              SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
              FROM embeddings
            ),
            n AS (
              SELECT vec_id, e,
                     sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                      (a, b) -> a + b)) AS nrm
              FROM v
            ),
            q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_reduce(list_prepend(0.0,
                           [e[i] * q.qe[i] for i in range(1, len(e) + 1)]),
                           (x, y) -> x + y) / (nrm * q.qn), 6) AS cos_sim
            FROM n, q WHERE vec_id != 0
            ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        "centroid_eval": """
            WITH v AS (
              SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS e
              FROM embeddings
            ),
            dims AS (
              SELECT label, i, avg(e[i]) AS c
              FROM v, unnest(generate_series(1, len(e))) AS t(i)
              GROUP BY 1, 2
            ),
            cents AS (SELECT label AS cand, list(c ORDER BY i) AS ce FROM dims GROUP BY 1),
            scored AS (
              SELECT v.vec_id, v.label AS true_label, cand,
                     round(list_reduce(list_prepend(0.0,
                             [v.e[i] * ce[i] for i in range(1, len(ce) + 1)]),
                             (a, b) -> a + b)
                       / (sqrt(list_reduce(list_prepend(0.0, [x * x for x in v.e]),
                               (a, b) -> a + b))
                        * sqrt(list_reduce(list_prepend(0.0, [x * x for x in ce]),
                               (a, b) -> a + b))), 6) AS cos_sim
              FROM v, cents
            ),
            best AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, cand) AS rn
                FROM scored
              ) WHERE rn = 1
            )
            SELECT true_label AS label, count(*) AS n,
                   CAST(SUM(CASE WHEN cand = true_label THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_correct,
                   round(SUM(CASE WHEN cand = true_label THEN 1 ELSE 0 END)
                         / count(*), 6) AS accuracy
            FROM best GROUP BY 1 ORDER BY 1
        """,
        "ann_batch_topk": """
            WITH v AS (
              SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
              FROM embeddings
            ),
            n AS (
              SELECT vec_id, e,
                     sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                      (a, b) -> a + b)) AS nrm
              FROM v
            ),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id,
                     round(list_reduce(list_prepend(0.0,
                             [c.e[i] * q.e[i] for i in range(1, len(c.e) + 1)]),
                             (x, y) -> x + y) / (c.nrm * q.nrm), 6) AS cos_sim
              FROM n q, n c WHERE q.vec_id < 5 AND c.vec_id >= 5
            )
            SELECT query_id, vec_id, cos_sim, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "text_tokens": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                     AS n_subwords
            FROM documents
        """,
        "window_range_frame": """
            SELECT o_custkey, o_orderkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                     PARTITION BY o_custkey
                     ORDER BY date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
                     RANGE BETWEEN 90 PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS trailing_90d
            FROM orders
        """,
        "grouping_sets": _GROUPING_SETS_SQL,
        "stratified_sample": """
            SELECT source, count(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM documents
            WHERE (doc_id * 2654435761) % 1000 <
                  CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 500
                              WHEN 'src2' THEN 1000 ELSE 250 END
            GROUP BY 1
        """,
        "shard_histogram": """
            SELECT CAST((doc_id * 2654435761) % 16 AS INT) AS shard,
                   count(*) AS cnt, CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM documents GROUP BY 1
        """,
        "pack_sequences": r"""
            WITH f AS (
              SELECT doc_id,
                     CAST((doc_id * 2654435761) % 4 AS INT) AS shard,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END AS n_tokens
              FROM documents
            ),
            o AS (
              SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
                     CAST(coalesce(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS start_offset
              FROM f
            )
            SELECT doc_id, shard, n_tokens, start_offset,
                   CAST(floor(start_offset / 2048.0) AS BIGINT) AS pack_id
            FROM o
        """,
        "corpus_curation": r"""
            WITH f AS (
              SELECT doc_id, source, text,
                     regexp_split_to_array(trim(text), '\s+') AS toks,
                     len(regexp_extract_all(text, '[^\w\s]'))
                       / GREATEST(length(text), 1) AS praw
              FROM documents
            ),
            g AS (
              SELECT doc_id, source, toks, praw,
                     len(list_filter(list_transform(toks, t -> lower(t)),
                         t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                    'for','on','with','as','at','by','from','that','this')))
                       / GREATEST(len(toks), 1) AS sraw,
                     list_reduce(list_prepend(0, [length(t) for t in toks]), (a,b) -> a + b)
                       / GREATEST(len(toks), 1) AS mwl,
                     LEAST(length(text) / 200.0, 1.0) AS length_ok
              FROM f
            ),
            q AS (
              SELECT doc_id, source, toks,
                     round((length_ok + (1.0 - LEAST(praw * 5.0, 1.0))
                            + LEAST(sraw * 4.0, 1.0)
                            + CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END) / 4.0, 6)
                       AS quality
              FROM g
            ),
            lang AS (
              SELECT doc_id,
                CASE WHEN GREATEST(c_de, c_en, c_es, c_fr, c_zh) = 0 THEN 'und'
                     WHEN c_de = GREATEST(c_de, c_en, c_es, c_fr, c_zh) THEN 'de'
                     WHEN c_en = GREATEST(c_de, c_en, c_es, c_fr, c_zh) THEN 'en'
                     WHEN c_es = GREATEST(c_de, c_en, c_es, c_fr, c_zh) THEN 'es'
                     WHEN c_fr = GREATEST(c_de, c_en, c_es, c_fr, c_zh) THEN 'fr'
                     ELSE 'zh' END AS pred_lang
              FROM (
                SELECT doc_id,
                  len(list_filter(t, x -> x IN ('der','die','und','ist'))) AS c_de,
                  len(list_filter(t, x -> x IN ('the','and','is','of'))) AS c_en,
                  len(list_filter(t, x -> x IN ('el','la','que','es'))) AS c_es,
                  len(list_filter(t, x -> x IN ('le','la','et','est'))) AS c_fr,
                  len(list_filter(t, x -> x IN ('de','shi','le','zai'))) AS c_zh
                FROM (SELECT doc_id, list_transform(toks, t -> lower(t)) AS t FROM f)
              )
            ),
            keepers AS (
              SELECT min(doc_id) AS doc_id
              FROM documents
              GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
            )
            SELECT source, count(*) AS n_docs,
                   round(CAST(SUM(CAST(quality AS DECIMAL(16,6))) AS DOUBLE)
                         / count(*), 6) AS avg_quality
            FROM q JOIN lang USING (doc_id) JOIN keepers USING (doc_id)
            WHERE quality >= 0.5 AND pred_lang = 'en'
            GROUP BY 1
        """,
        "text_quality": r"""
            WITH f AS (
              SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\s+') AS toks,
                     len(regexp_extract_all(text, '[^\w\s]'))
                       / GREATEST(length(text), 1) AS praw
              FROM documents
            ),
            g AS (
              SELECT doc_id, praw,
                     len(list_filter(list_transform(toks, t -> lower(t)),
                         t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                    'for','on','with','as','at','by','from','that','this')))
                       / GREATEST(len(toks), 1) AS sraw,
                     list_reduce(list_prepend(0, [length(t) for t in toks]), (a,b) -> a + b)
                       / GREATEST(len(toks), 1) AS mwl,
                     LEAST(length(text) / 200.0, 1.0) AS length_ok
              FROM f
            )
            SELECT doc_id, round(praw, 6) AS punct_ratio, round(sraw, 6) AS stopword_ratio,
                   round((length_ok + (1.0 - LEAST(praw * 5.0, 1.0))
                          + LEAST(sraw * 4.0, 1.0)
                          + CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END) / 4.0, 6)
                     AS quality
            FROM g
        """,
        "text_langid": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_transform(regexp_split_to_array(trim(text), '\s+'),
                                    t -> lower(t)) AS t
              FROM documents
            ),
            scores AS (
              SELECT doc_id,
                len(list_filter(t, x -> x IN ('der','die','und','ist'))) AS c_de,
                len(list_filter(t, x -> x IN ('the','and','is','of'))) AS c_en,
                len(list_filter(t, x -> x IN ('el','la','que','es'))) AS c_es,
                len(list_filter(t, x -> x IN ('le','la','et','est'))) AS c_fr,
                len(list_filter(t, x -> x IN ('de','shi','le','zai'))) AS c_zh
              FROM toks
            )
            SELECT CASE
                WHEN GREATEST(c_de, c_en, c_es, c_fr, c_zh) = 0 THEN 'und'
                WHEN c_de = GREATEST(c_de, c_en, c_es, c_fr, c_zh) THEN 'de'
                WHEN c_en = GREATEST(c_de, c_en, c_es, c_fr, c_zh) THEN 'en'
                WHEN c_es = GREATEST(c_de, c_en, c_es, c_fr, c_zh) THEN 'es'
                WHEN c_fr = GREATEST(c_de, c_en, c_es, c_fr, c_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang,
              count(*) AS cnt
            FROM scores GROUP BY 1
        """,
        "text_fingerprint": r"""
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                         string_split_regex(
                           lower(regexp_replace(text, '\s+', ' ', 'g')), ''),
                         c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 2147483647) AS fp
            FROM documents
        """,
        "histogram2_nested": """
            WITH h AS (
              SELECT 'u' || CAST(p_partkey % 5 AS VARCHAR) AS u,
                     'g' || CAST(p_partkey % 3 AS VARCHAR) AS g,
                     count(*) AS cnt
              FROM part GROUP BY 1, 2
            )
            SELECT u AS "user",
                   array_to_string(list_sort(list(g || '=' || CAST(cnt AS VARCHAR))), ',')
                     AS nested
            FROM h GROUP BY 1
        """,
        "having_indexed": """
            WITH f AS (
              SELECT 'u' || CAST(p_partkey % 5 AS VARCHAR) AS u,
                     CAST(floor(p_retailprice) AS BIGINT) * (1 + p_partkey % 3) AS dsc
              FROM part
            )
            SELECT u AS "user", count(*) AS "count",
                   CAST(SUM(dsc) AS BIGINT) AS "diskspaceConsumed"
            FROM f GROUP BY 1
            HAVING count(*) >= 100 AND CAST(SUM(dsc) AS BIGINT) < 759567
        """,
        "url_histogram": """
            WITH f AS (
              SELECT 'u' || CAST(p_partkey % 5 AS VARCHAR) AS u,
                     CAST(floor(p_retailprice) AS BIGINT) AS sz,
                     CAST(floor(p_retailprice) AS BIGINT) * (1 + p_partkey % 3) AS dsc
              FROM part
            )
            SELECT u AS "user", CAST(SUM(dsc) AS BIGINT) AS "diskspaceConsumed"
            FROM f WHERE sz > 500 GROUP BY 1
        """,
        "url_filter": """
            WITH f AS (
              SELECT 'u' || CAST(p_partkey % 5 AS VARCHAR) AS u,
                     CAST(floor(p_retailprice) AS BIGINT) AS sz
              FROM part
            )
            SELECT count(*) AS "count", CAST(SUM(sz) AS BIGINT) AS "fileSize"
            FROM f WHERE sz > 100 AND u <> 'u3'
        """,
        "oiv_xml_roundtrip": _oivgen.oracle_sql(n_dirs=4, files_per_dir=25),
        # the binary reader parses a different container written by an
        # independent encoder, but the namespace is the same closed form
        "fsimage_proto_roundtrip": _oivgen.oracle_sql(n_dirs=4, files_per_dir=25),
        "fsimage_gzip_roundtrip": _oivgen.oracle_sql(n_dirs=5, files_per_dir=17),
        # Decode round-trip: the engine wraps text bytes as real PNG/WAV
        # containers and struct-parses them back; the oracle predicts every
        # decoded dimension arithmetically from the UTF-8 byte length
        # (PNG: width 64, zero-padded last row; WAV: 8-bit mono 8 kHz PCM,
        # 44-byte header). A codec bug on either side breaks the hash.
        # Word-level repetition signals; tokenization mirrors text_tokens
        # (whitespace split on trimmed text), tie-break on the top bigram
        # is (count desc, bigram asc) on both sides.
        "text_repetition": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_transform(regexp_split_to_array(trim(text), '\s+'),
                                    x -> lower(x)) AS w
              FROM documents
            ),
            base AS (
              SELECT doc_id, w, len(w) AS n_words,
                     round(1 - len(list_distinct(w))
                               / CAST(greatest(len(w), 1) AS DOUBLE), 6)
                       AS dup_word_frac
              FROM toks
            ),
            bigrams AS (
              SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
              FROM toks, UNNEST(range(1, len(w))) AS t(i)
            ),
            counts AS (
              SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY 1, 2
            ),
            top AS (
              SELECT doc_id, bg AS top_bigram, c AS top_bigram_count
              FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY doc_id ORDER BY c DESC, bg ASC) AS rn
                FROM counts
              ) WHERE rn = 1
            )
            SELECT b.doc_id, CAST(b.n_words AS INT) AS n_words,
                   b.dup_word_frac, t.top_bigram,
                   CAST(COALESCE(t.top_bigram_count, 0) AS BIGINT)
                     AS top_bigram_count,
                   round(2.0 * COALESCE(t.top_bigram_count, 0)
                         / greatest(b.n_words, 1), 6) AS top_bigram_frac
            FROM base b LEFT JOIN top t USING (doc_id)
            ORDER BY b.doc_id
        """,
        "dup_ngram_stats": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
              FROM documents
            ),
            grams AS (
              SELECT doc_id, array_to_string(w[i:i + 2], ' ') AS g
              FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
            ),
            counts AS (
              SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
            ),
            dupg AS (
              SELECT g FROM counts GROUP BY g HAVING count(*) >= 2
            ),
            per_doc AS (
              SELECT c.doc_id,
                     SUM(c.c) AS n_ngrams,
                     COALESCE(SUM(c.c) FILTER (WHERE d.g IS NOT NULL), 0) AS n_dup
              FROM counts c LEFT JOIN dupg d ON c.g = d.g
              GROUP BY 1
            )
            SELECT t.doc_id,
                   CAST(COALESCE(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
                   CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_ngrams,
                   round(COALESCE(p.n_dup, 0)
                         / CAST(greatest(COALESCE(p.n_ngrams, 0), 1) AS DOUBLE), 6)
                     AS dup_frac
            FROM toks t LEFT JOIN per_doc p USING (doc_id)
            ORDER BY t.doc_id
        """,
        "embedding_norm_stats": """
            WITH v AS (
              SELECT label,
                     sqrt(list_aggregate(
                       list_transform(embedding,
                                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       'sum')) AS l2,
                     CAST(embedding[1] AS DOUBLE) AS d0
              FROM embeddings
            )
            SELECT label,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(l2), 6) AS avg_l2,
                   round(min(l2), 6) AS min_l2,
                   round(max(l2), 6) AS max_l2,
                   round(avg(d0), 6) AS avg_dim0
            FROM v GROUP BY label ORDER BY label
        """,
        "embedding_quantization": """
            WITH s AS (
              SELECT label, embedding,
                     list_aggregate(
                       list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                       'max') / 127.0 AS scale
              FROM embeddings
            ),
            e AS (
              SELECT label, scale,
                     CASE WHEN scale = 0 THEN 0.0 ELSE
                       list_aggregate(
                         list_transform(embedding,
                           x -> pow(CAST(x AS DOUBLE)
                                    - scale * least(greatest(
                                        round(CAST(x AS DOUBLE) / scale), -127.0),
                                      127.0), 2)),
                         'sum') / len(embedding)
                     END AS mse
              FROM s
            )
            SELECT label,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(mse), 10) AS avg_mse,
                   round(avg(scale), 6) AS avg_scale
            FROM e GROUP BY label ORDER BY label
        """,
        "multimodal_decode": """
            WITH b AS (
              SELECT doc_id, octet_length(encode(text)) AS n FROM documents
            )
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
                   CASE WHEN doc_id % 2 = 0 THEN CAST(64 AS INT) ELSE CAST(NULL AS INT) END AS width,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST(greatest((n + 63) // 64, 1) AS INT)
                        ELSE CAST(NULL AS INT) END AS height,
                   CASE WHEN doc_id % 2 = 1 THEN CAST(8000 AS INT) ELSE CAST(NULL AS INT) END AS sample_rate,
                   CASE WHEN doc_id % 2 = 1 THEN CAST(1 AS INT) ELSE CAST(NULL AS INT) END AS n_channels,
                   CASE WHEN doc_id % 2 = 1
                        THEN CAST(n * 1000 // 8000 AS INT)
                        ELSE CAST(NULL AS INT) END AS duration_ms,
                   CAST(CASE WHEN doc_id % 2 = 0
                             THEN 64 * greatest((n + 63) // 64, 1)
                             ELSE n END AS INT) AS n_data
            FROM b ORDER BY media_id
        """,
    }
    # r3 rows that reuse an existing oracle VERBATIM: same SQL, different
    # Spark plan (blocked kernel / streaming stateful operator / parquet
    # sink round-trip / sort post-op) — the hash equality IS the claim.
    # random_projection: the 8 output columns share one fold shape, so the
    # SQL is generated — same derived sign matrix, same left-fold order.
    proj_cols = ",\n               ".join(
        "round(list_reduce(list_prepend(0.0, list_transform(range(64), "
        f"i -> CAST(embedding[i+1] AS DOUBLE) * (CASE WHEN "
        f"((i*8 + {j} + 104729) * 2654435761 + 12345) % 1000003 % 2 = 0 "
        f"THEN 1.0 ELSE -1.0 END))), (a, b) -> a + b), 6) AS p{j}"
        for j in range(8)
    )
    d["random_projection"] = (
        f"SELECT vec_id,\n               {proj_cols}\n        FROM embeddings"
    )
    d["semdedup"] = """
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS nrm
          FROM v
        ),
        seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
                 e AS se, nrm AS snrm
          FROM n WHERE vec_id < 8
        ),
        sims AS (
          SELECT a.vec_id, s.cell,
                 round(list_reduce(list_prepend(0.0,
                         [a.e[i] * s.se[i] for i in range(1, len(a.e) + 1)]),
                         (x, y) -> x + y) / (a.nrm * s.snrm), 6) AS cs
          FROM n a CROSS JOIN seeds s
        ),
        assigned AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cs DESC, cell ASC) AS rn
            FROM sims
          ) WHERE rn = 1
        ),
        dups AS (
          SELECT DISTINCT ab.vec_id AS dup_id
          FROM assigned aa
          JOIN assigned ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
          JOIN n a ON a.vec_id = aa.vec_id
          JOIN n b ON b.vec_id = ab.vec_id
          WHERE round(list_reduce(list_prepend(0.0,
                  [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                  (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= 0.4
        )
        SELECT asg.vec_id AS id, asg.cell AS cell,
               (d.dup_id IS NULL) AS keep
        FROM assigned asg LEFT JOIN dups d ON d.dup_id = asg.vec_id
    """
    # cluster_split: the proven transitive-closure clustering, wrapped
    # with the Knuth split bucket (KNUTH % 1000 == 761; pmod == % here
    # because cluster ids are positive doc_ids).
    d["cluster_split"] = f"""
        SELECT node AS id, cluster,
               CASE WHEN ((cluster % 1000) * 761) % 1000 < 100
                    THEN 'test' ELSE 'train' END AS split
        FROM ({d["dedup_clusters"]})
    """

    def _poly_sql(expr: str, base: int) -> str:
        """DuckDB replay of text._poly_hash: rolling hash mod 2^31-1."""
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(string_split_regex({expr}, ''), "
            "c -> CAST(ascii(c) AS BIGINT))), "
            f"(a, b) -> (a * {base} + b) % 2147483647)"
        )

    feat_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN x.b = {j} THEN x.s ELSE 0 END) AS BIGINT) AS f{j}"
        for j in range(8)
    )
    d["hashed_features"] = rf"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        hs AS (
          SELECT doc_id,
                 unnest(list_transform(t, tok -> struct_pack(
                   b := {_poly_sql('tok', 31)} % 8,
                   s := 1 - 2 * ({_poly_sql('tok', 37)} % 2)))) AS x
          FROM toks
        )
        SELECT doc_id AS id,
               {feat_cols}
        FROM hs GROUP BY doc_id
    """

    cms_buckets = ", ".join(f"{_poly_sql('tok', b)} % 16" for b in (31, 37, 41, 43))
    d["count_min_bound"] = rf"""
        WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        exact AS (SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok),
        top AS (
          SELECT tok, exact_cnt FROM exact ORDER BY exact_cnt DESC, tok LIMIT 20
        ),
        tot AS (SELECT count(*) AS n_total FROM toks),
        sketch AS (
          SELECT d, bucket, count(*) AS cnt FROM (
            SELECT unnest([0, 1, 2, 3]) AS d,
                   unnest([{cms_buckets}]) AS bucket
            FROM toks
          ) GROUP BY d, bucket
        ),
        probes AS (
          SELECT tok, unnest([0, 1, 2, 3]) AS d,
                 unnest([{cms_buckets}]) AS bucket
          FROM top
        ),
        est AS (
          SELECT tok, min(cnt) AS cms_estimate
          FROM probes JOIN sketch USING (d, bucket) GROUP BY tok
        )
        SELECT top.tok, exact_cnt, cms_estimate,
               (cms_estimate >= exact_cnt AND
                cms_estimate - exact_cnt <=
                  CAST(floor(2.718281828459045 * n_total / 16) AS BIGINT))
                 AS within_bound
        FROM top JOIN est USING (tok) CROSS JOIN tot
        ORDER BY top.tok
    """
    # kmeans_refine: the semdedup assignment CTE, then per-cell means of
    # all 64 dimensions.
    mean_cols = ",\n               ".join(
        f"round(avg(e[{j + 1}]), 6) AS c{j}" for j in range(64)
    )
    d["kmeans_refine"] = f"""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS nrm
          FROM v
        ),
        seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
                 e AS se, nrm AS snrm
          FROM n WHERE vec_id < 8
        ),
        sims AS (
          SELECT a.vec_id, s.cell,
                 round(list_reduce(list_prepend(0.0,
                         [a.e[i] * s.se[i] for i in range(1, len(a.e) + 1)]),
                         (x, y) -> x + y) / (a.nrm * s.snrm), 6) AS cs
          FROM n a CROSS JOIN seeds s
        ),
        assigned AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cs DESC, cell ASC) AS rn
            FROM sims
          ) WHERE rn = 1
        )
        SELECT cell, count(*) AS n_members,
               {mean_cols}
        FROM assigned JOIN v USING (vec_id)
        GROUP BY cell
    """
    d["source_divergence"] = r"""
        WITH toks AS (
          SELECT source AS src,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        st AS (SELECT src, tok, count(*) AS c_st FROM toks GROUP BY 1, 2),
        ct AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY tok),
        ns AS (SELECT src, SUM(c_st) AS n_s FROM st GROUP BY src),
        tot AS (SELECT SUM(c_st) AS n FROM st),
        term AS (
          SELECT st.src, st.c_st,
                 CAST(round((st.c_st / CAST(ns.n_s AS DOUBLE)) *
                        ln((CAST(st.c_st AS DOUBLE) * tot.n) /
                           (CAST(ns.n_s AS DOUBLE) * ct.c_t)), 6)
                      AS DECIMAL(18,6)) AS kl_term
          FROM st JOIN ct USING (tok) JOIN ns USING (src) CROSS JOIN tot
        )
        SELECT src AS source, CAST(SUM(c_st) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct,
               CAST(SUM(kl_term) AS DOUBLE) AS kl_nats
        FROM term GROUP BY src
    """
    d["all_pairs_blocked"] = d["embedding_dup_pairs"]
    d["sessionization_parity"] = d["sessionization"]
    d["sweep_roundtrip"] = d["quota_report"]
    # Full-probe IVF must reproduce brute force exactly (assignment
    # partitions the corpus; scoring is exact cosine), so its oracle IS
    # the brute-force top-k SQL.
    d["ann_ivf_full"] = d["ann_topk"]
    d["minhash_recall"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in range(1, len(t) - 1)])) AS shingle
          FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        rare AS (
          SELECT sh.doc_id, sh.shingle FROM sh
          JOIN dfc USING (shingle) WHERE dfc.df <= 100
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM rare a JOIN rare b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        common AS (
          SELECT c.id_a, c.id_b, count(*) AS c
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
          GROUP BY 1, 2
        )
        SELECT count(*) AS n_exact, CAST(0 AS BIGINT) AS n_missed
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(c / (sa.n + sb.n - c), 6) >= 0.6
    """
    d["dedup_span_removal"] = r"""
        WITH toks AS (
          SELECT doc_id AS id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        grams AS (
          SELECT id, i AS pos, array_to_string(t[i:i+7], ' ') AS g
          FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS s(i)
        ),
        stats AS (
          SELECT g, count(DISTINCT id) AS docs, min(id) AS keeper
          FROM grams GROUP BY g
        ),
        covered AS (
          SELECT DISTINCT gr.id, p.pos
          FROM grams gr
          JOIN stats st USING (g),
               unnest(generate_series(gr.pos, gr.pos + 7)) AS p(pos)
          WHERE st.docs >= 2 AND gr.id != st.keeper
        ),
        positions AS (
          SELECT id, len(t) AS n_tokens, i AS pos, t[i] AS tok
          FROM toks, unnest(generate_series(1, len(t))) AS s(i)
        ),
        kept AS (
          SELECT p.id, p.n_tokens, p.pos, p.tok
          FROM positions p
          LEFT JOIN covered c ON c.id = p.id AND c.pos = p.pos
          WHERE c.id IS NULL
        ),
        reb AS (
          SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY id
        )
        SELECT t.id AS doc_id,
               COALESCE(reb.clean_text, '') AS clean_text,
               CAST(len(t.t) AS INT) AS n_tokens,
               CAST(len(t.t) - COALESCE(reb.n_kept, 0) AS INT) AS n_removed
        FROM toks t LEFT JOIN reb ON reb.id = t.id
    """
    d["approx_distinct_bound"] = """
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS exact_parts,
               true AS within_bound
        FROM lineitem GROUP BY 1
    """
    d["multimodal_feature_hist"] = """
        WITH ch AS (
          SELECT doc_id, unicode(c) AS cp
          FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS c
                FROM documents WHERE doc_id % 2 = 0)
          WHERE c != ''
        ),
        agg AS (
          SELECT doc_id, count(*) AS len,
                 SUM(CASE WHEN cp // 32 = 0 THEN 1 ELSE 0 END) AS b0,
                 SUM(CASE WHEN cp // 32 = 1 THEN 1 ELSE 0 END) AS b1,
                 SUM(CASE WHEN cp // 32 = 2 THEN 1 ELSE 0 END) AS b2,
                 SUM(CASE WHEN cp // 32 = 3 THEN 1 ELSE 0 END) AS b3,
                 SUM(CASE WHEN cp // 32 = 4 THEN 1 ELSE 0 END) AS b4,
                 SUM(CASE WHEN cp // 32 = 5 THEN 1 ELSE 0 END) AS b5,
                 SUM(CASE WHEN cp // 32 = 6 THEN 1 ELSE 0 END) AS b6,
                 SUM(CASE WHEN cp // 32 = 7 THEN 1 ELSE 0 END) AS b7
          FROM ch GROUP BY doc_id
        ),
        sz AS (
          SELECT *, CAST(greatest((len + 63) // 64, 1) * 64 AS DOUBLE) AS total
          FROM agg
        )
        SELECT doc_id AS media_id, 'image' AS kind,
               round((b0 + total - len) / total, 6) AS f0,
               round(b1 / total, 6) AS f1,
               round(b2 / total, 6) AS f2,
               round(b3 / total, 6) AS f3,
               round(b4 / total, 6) AS f4,
               round(b5 / total, 6) AS f5,
               round(b6 / total, 6) AS f6,
               round(b7 / total, 6) AS f7
        FROM sz
    """
    # Full SQL twin for hyperplane-LSH pairs: the planes are seeded
    # constants (similarity._hyperplanes), and both engines fold the dot
    # product left-to-right from 0.0, so the 8-bit signatures — and hence
    # the bucket-join candidates — are bit-identical. This promotes
    # ann_lsh_pairs from rows-only to hash-checked.
    _planes = similarity._hyperplanes(64, 8)
    _plane_vals = ", ".join(
        f"({bi}, [{', '.join(repr(x) for x in row)}])" for bi, row in enumerate(_planes)
    )
    d["ann_lsh_pairs"] = f"""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        planes AS (SELECT * FROM (VALUES {_plane_vals}) AS t(bi, p)),
        sig AS (
          SELECT v.vec_id,
                 CAST(SUM(CASE WHEN list_reduce(list_prepend(0.0,
                         [v.e[i] * p[i] for i in range(1, len(v.e) + 1)]),
                         (x, y) -> x + y) >= 0
                     THEN 1 << bi ELSE 0 END) AS BIGINT) AS sig
          FROM v, planes GROUP BY v.vec_id
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (x, y) -> x + y)) AS nrm
          FROM v
        )
        SELECT sa.vec_id AS id_a, sb.vec_id AS id_b,
               round(list_reduce(list_prepend(0.0,
                       [na.e[i] * nb.e[i] for i in range(1, len(na.e) + 1)]),
                       (x, y) -> x + y) / (na.nrm * nb.nrm), 6) AS cos_sim
        FROM sig sa
        JOIN sig sb ON sa.sig = sb.sig AND sa.vec_id < sb.vec_id
        JOIN n na ON na.vec_id = sa.vec_id
        JOIN n nb ON nb.vec_id = sb.vec_id
        WHERE round(list_reduce(list_prepend(0.0,
                [na.e[i] * nb.e[i] for i in range(1, len(na.e) + 1)]),
                (x, y) -> x + y) / (na.nrm * nb.nrm), 6) >= 0.3
    """
    d["url_sort_by_value"] = d["url_histogram"]
    d["image_resize_decode"] = """
        SELECT doc_id AS media_id, 'image' AS kind,
               CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
               CAST(256 AS INT) AS n_data
        FROM documents WHERE doc_id % 2 = 0 ORDER BY media_id
    """
    d["video_decode"] = """
        WITH b AS (
          SELECT doc_id, octet_length(encode(text)) AS n FROM documents
        )
        SELECT doc_id AS media_id,
               CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
               CAST(5 AS INT) AS fps,
               CAST(greatest((n + 127) // 128, 1) AS INT) AS n_frames,
               CAST(greatest((n + 127) // 128, 1) * 200 AS INT) AS duration_ms,
               CAST(greatest((n + 127) // 128, 1) * 128 AS INT) AS n_data
        FROM b ORDER BY media_id
    """
    d["mixture_epochs"] = """
        WITH d AS (
          SELECT doc_id, source,
                 CASE source WHEN 'src1' THEN 2250 WHEN 'src2' THEN 500
                             ELSE 1000 END AS pm,
                 (doc_id * 2654435761) % 1000 AS b
          FROM documents
        ),
        n AS (
          SELECT doc_id, source,
                 (pm // 1000) + CASE WHEN b < pm % 1000 THEN 1 ELSE 0 END AS nc
          FROM d
        )
        SELECT doc_id, source, CAST(i AS INT) AS copy
        FROM n, unnest(generate_series(0, nc - 1)) AS t(i)
        WHERE nc > 0
    """
    d["key_skew"] = """
        WITH c AS (
          SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1
        )
        SELECT count(*) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               max(cnt) AS max_per_key,
               CAST(CAST(avg(cnt) AS DECIMAL(18,6)) AS DOUBLE) AS avg_per_key,
               CAST(CAST(quantile_cont(cnt, 0.5) AS DECIMAL(18,6)) AS DOUBLE)
                 AS p50_per_key,
               CAST(CAST(quantile_cont(cnt, 0.99) AS DECIMAL(18,6)) AS DOUBLE)
                 AS p99_per_key,
               CAST(CAST(max(cnt) / avg(cnt) AS DECIMAL(18,6)) AS DOUBLE)
                 AS skew_ratio
        FROM c
    """
    d["budget_fill"] = """
        WITH ranked AS (
          SELECT source, doc_id, n_chars,
                 SUM(n_chars) OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS cum
          FROM documents
        ),
        kept AS (
          SELECT source, count(*) AS n_kept,
                 CAST(SUM(n_chars) AS BIGINT) AS chars_kept
          FROM ranked WHERE cum <= 20000 GROUP BY 1
        ),
        tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
        SELECT t.source, t.n_docs,
               coalesce(k.n_kept, 0) AS n_kept,
               coalesce(k.chars_kept, 0) AS chars_kept,
               round(coalesce(k.chars_kept, 0) / 20000.0, 6) AS budget_frac
        FROM tot t LEFT JOIN kept k USING (source)
        ORDER BY source
    """
    d["matryoshka_eval"] = """
        WITH v AS (
          SELECT vec_id AS pid,
                 [CAST(x AS DOUBLE) for x in embedding] AS e,
                 [CAST(x AS DOUBLE) for x in embedding[1:16]] AS t
          FROM embeddings WHERE vec_id < 40
        ),
        n AS (
          SELECT pid, e, t,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS ne,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in t]),
                                  (a, b) -> a + b)) AS nt
          FROM n0
        ),
        c AS (
          SELECT a.pid AS id_a, b.pid AS id_b,
                 round(list_reduce(list_prepend(0.0,
                         [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                         (x, y) -> x + y) / (a.ne * b.ne), 6) AS cos_full,
                 round(list_reduce(list_prepend(0.0,
                         [a.t[i] * b.t[i] for i in range(1, len(a.t) + 1)]),
                         (x, y) -> x + y) / (a.nt * b.nt), 6) AS cos_trunc
          FROM n a JOIN n b ON a.pid < b.pid
        )
        SELECT id_a, id_b, cos_full, cos_trunc,
               round(abs(cos_full - cos_trunc), 6) AS abs_delta
        FROM c
    """.replace("n0", "v")
    d["tfidf_top_terms"] = r"""
        WITH toks AS (
          SELECT source,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
          FROM documents WHERE length(trim(text)) > 0
        ),
        tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        ng AS (SELECT count(DISTINCT source) AS n FROM documents),
        idf AS (
          SELECT term,
                 CAST(round(ln(CAST(n AS DOUBLE) / count(*)), 9)
                      AS DECIMAL(20,9)) AS idf
          FROM tf, ng GROUP BY term, n
        ),
        ranked AS (
          SELECT tf.source, tf.term, tf.tf,
                 CAST(tf.tf AS DECIMAL(10,0)) * idf.idf AS s,
                 row_number() OVER (
                   PARTITION BY tf.source
                   ORDER BY CAST(tf.tf AS DECIMAL(10,0)) * idf.idf DESC,
                            tf.term) AS rank
          FROM tf JOIN idf USING (term)
        )
        SELECT source, rank, term, tf, CAST(s AS DOUBLE) AS tfidf
        FROM ranked WHERE rank <= 5 ORDER BY source, rank
    """
    d["padding_efficiency"] = r"""
        WITH d AS (
          SELECT source,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 END AS n_tok
          FROM documents
        ),
        g AS (
          SELECT source, count(*) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                 CAST(SUM(CASE WHEN n_tok > 0
                               THEN CAST(ceil(n_tok / 64.0) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS padded_windows
          FROM d GROUP BY 1
        )
        SELECT source, n_docs, total_tokens, padded_windows,
               CAST(ceil(total_tokens / 64.0) AS BIGINT) AS packed_windows,
               round(total_tokens /
                     CAST(padded_windows * 64 AS DOUBLE), 6)
                 AS padded_efficiency,
               round(total_tokens /
                     CAST(CAST(ceil(total_tokens / 64.0) AS BIGINT) * 64
                          AS DOUBLE), 6) AS packed_efficiency
        FROM g ORDER BY source
    """
    d["dup_matrix"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in range(1, len(t) - 1)])) AS shingle
          FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        rare AS (
          SELECT sh.doc_id, sh.shingle FROM sh
          JOIN dfc USING (shingle) WHERE dfc.df <= 100
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM rare a JOIN rare b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        common AS (
          SELECT c.id_a, c.id_b, count(*) AS c
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT id_a, id_b FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(c / (sa.n + sb.n - c), 6) >= 0.6
        )
        SELECT least(da.source, db.source) AS source_lo,
               greatest(da.source, db.source) AS source_hi,
               count(*) AS n_pairs
        FROM pairs
        JOIN documents da ON da.doc_id = id_a
        JOIN documents db ON db.doc_id = id_b
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    d["tokenizer_fertility"] = r"""
        WITH d AS (
          SELECT source,
                 length(text) AS chars,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+'))
                 END AS words,
                 len(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\v]')) AS subwords
          FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(chars) AS BIGINT) AS chars,
               CAST(SUM(words) AS BIGINT) AS words,
               CAST(SUM(subwords) AS BIGINT) AS subwords,
               round(CAST(SUM(chars) AS DOUBLE) / SUM(words), 6)
                 AS chars_per_word,
               round(CAST(SUM(chars) AS DOUBLE) / SUM(subwords), 6)
                 AS chars_per_subword,
               round(CAST(SUM(subwords) AS DOUBLE) / SUM(words), 6)
                 AS fertility
        FROM d GROUP BY source ORDER BY source
    """
    d["doc_length_histogram"] = r"""
        WITH d AS (
          SELECT source,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+'))
                 END AS n
          FROM documents
        )
        SELECT source,
               CASE WHEN n <= 0 THEN -1
                    ELSE CAST(length(bin(n)) - 1 AS INTEGER) END AS log2_bucket,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM d GROUP BY 1, 2 ORDER BY source, log2_bucket
    """
    d["cooccurrence_lift"] = """
        WITH baskets AS (
          SELECT user_id, epoch_us(ts) // 3600000000 AS w,
                 list_sort(list_distinct(list(event_type))) AS types
          FROM events GROUP BY 1, 2
        ),
        nb AS (SELECT count(*) AS nb FROM baskets),
        marg AS (
          SELECT t, count(*) AS m
          FROM (SELECT unnest(types) AS t FROM baskets) GROUP BY t
        ),
        pairs AS (
          SELECT p.a, p.b FROM (
            SELECT unnest(flatten(list_transform(
                     range(1, len(types)),
                     i -> list_transform(
                       range(i + 1, len(types) + 1),
                       j -> {'a': types[i], 'b': types[j]})))) AS p
            FROM baskets WHERE len(types) >= 2
          )
        ),
        counts AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS both FROM pairs GROUP BY 1, 2
        )
        SELECT c.a, c.b, c.both,
               CAST(ma.m AS BIGINT) AS ma, CAST(mb.m AS BIGINT) AS mb,
               round((CAST(c.both AS DOUBLE) * nb.nb)
                     / (CAST(ma.m AS DOUBLE) * mb.m), 6) AS lift
        FROM counts c
        JOIN marg ma ON ma.t = c.a
        JOIN marg mb ON mb.t = c.b, nb
        ORDER BY a, b
    """
    d["growth_accounting"] = """
        WITH act AS (
          SELECT DISTINCT user_id AS u,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk
          FROM events
        ),
        tagged AS (
          SELECT u, wk,
                 row_number() OVER (PARTITION BY u ORDER BY wk) = 1 AS is_new,
                 lag(wk) OVER (PARTITION BY u ORDER BY wk) = wk - 1 AS is_returning
          FROM act
        ),
        weekly AS (
          SELECT wk,
                 CAST(count(*) AS BIGINT) AS active,
                 CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
                 CAST(SUM(CASE WHEN NOT is_new AND is_returning THEN 1 ELSE 0 END)
                      AS BIGINT) AS "returning",
                 CAST(SUM(CASE WHEN NOT is_new
                                AND NOT coalesce(is_returning, FALSE)
                               THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
          FROM tagged GROUP BY wk
        )
        SELECT wk, active, new_users, "returning", resurrected,
               CAST(SUM(new_users) OVER (ORDER BY wk) AS BIGINT)
                 AS cumulative_users
        FROM weekly ORDER BY wk
    """
    d["path_ngrams"] = """
        WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS t, event_id
          FROM events
        ),
        steps AS (
          SELECT event_type AS s1,
                 lead(event_type, 1) OVER w AS s2,
                 lead(event_type, 2) OVER w AS s3
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        ),
        paths AS (
          SELECT s1 || '>' || s2 || '>' || s3 AS path, count(*) AS cnt
          FROM steps WHERE s3 IS NOT NULL GROUP BY 1
        ),
        top AS (SELECT * FROM paths ORDER BY cnt DESC, path LIMIT 20)
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, path) AS INTEGER)
                 AS rank,
               path, cnt
        FROM top ORDER BY rank
    """
    d["triangle_counts"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in range(1, len(t) - 1)])) AS shingle
          FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        rare AS (
          SELECT sh.doc_id, sh.shingle FROM sh
          JOIN dfc USING (shingle) WHERE dfc.df <= 100
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM rare a JOIN rare b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        common AS (
          SELECT c.id_a, c.id_b, count(*) AS c
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
          GROUP BY 1, 2
        ),
        e AS (
          SELECT id_a AS a, id_b AS b FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(c / (sa.n + sb.n - c), 6) >= 0.6
        ),
        tri AS (
          SELECT e1.a AS a, e1.b AS b, e2.b AS c
          FROM e e1 JOIN e e2 ON e1.b = e2.a
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
          SELECT unnest([a, b, c]) AS node FROM tri
        )
        SELECT node, CAST(count(*) AS BIGINT) AS triangles
        FROM corners GROUP BY node ORDER BY node
    """
    d["stream_dedup_parity"] = """
        SELECT event_type, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS value_cents
        FROM events GROUP BY 1 ORDER BY 1
    """
    # PageRank: rebuild the closed-form edge list, then replay all 5
    # integer rounds as chained CTEs. Every SUM is cast back to BIGINT
    # (DuckDB widens integer SUM to HUGEINT, which pandas renders as
    # float64 — the r4 lesson), and // on the non-negative operands
    # matches Spark's DIV exactly.
    _pr_iter = """
        r{next} AS (
          SELECT nd.node,
                 CAST(150000000000 + (85 * COALESCE(i.inflow, 0)) // 100
                      AS BIGINT) AS rank_units
          FROM nodes nd LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(r.rank_units // o.deg) AS BIGINT) AS inflow
            FROM edges e
            JOIN r{cur} r ON r.node = e.src
            JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
          ) i ON i.node = nd.node
        )"""
    d["pagerank_topk"] = (
        """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        e0 AS (
          SELECT d.doc_id AS src,
                 (d.doc_id * 17 + t.k * 31) % (SELECT n FROM nn) AS dst
          FROM documents d CROSS JOIN (VALUES (1), (2), (3)) t(k)
        ),
        edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_units
               FROM nodes),"""
        + ",".join(_pr_iter.format(cur=i, next=i + 1) for i in range(5))
        + """
        SELECT node, rank_units FROM r5
        ORDER BY rank_units DESC, node LIMIT 20
    """
    )
    d["cohens_kappa"] = """
        WITH conf AS (
          SELECT count(*) AS n,
                 CAST(SUM(CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END)
                      AS BIGINT) AS a1,
                 CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      AS BIGINT) AS b1,
                 CAST(SUM(CASE WHEN n_chars >= 150 AND lang = 'en'
                          THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                 CAST(SUM(CASE WHEN n_chars < 150 AND lang <> 'en'
                          THEN 1 ELSE 0 END) AS BIGINT) AS n00
          FROM documents
        ), r AS (
          SELECT n, a1, b1, n11, n00,
                 n * (n11 + n00) - a1 * b1 - (n - a1) * (n - b1) AS num,
                 n * n - a1 * b1 - (n - a1) * (n - b1) AS den
          FROM conf
        )
        SELECT n, a1, b1, n11, n00,
               CAST((1000000 * (num + 4 * den)) // den - 4000000 AS BIGINT)
                 AS kappa_micros
        FROM r
    """
    d["token_cooccurrence"] = r"""
        WITH post AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                   AS tok
          FROM documents
        ),
        vocab AS (
          SELECT tok, count(*) AS n_tok
          FROM post GROUP BY tok
          ORDER BY n_tok DESC, tok LIMIT 40
        ),
        kept AS (
          SELECT p.id, p.tok, v.n_tok
          FROM post p JOIN vocab v USING (tok)
        ),
        pairs AS (
          SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab,
                 min(a.n_tok) AS n_a, min(b.n_tok) AS n_b
          FROM kept a JOIN kept b ON a.id = b.id AND a.tok < b.tok
          GROUP BY a.tok, b.tok
        )
        SELECT tok_a, tok_b, n_ab, n_a, n_b
        FROM pairs ORDER BY n_ab DESC, tok_a, tok_b LIMIT 50
    """
    # pq_report: bound-check invariant (count_min_bound pattern) — the
    # oracle pins shape + the k=16-codebook-beats-1-codeword guarantee;
    # the float error sums themselves never cross the engine boundary.
    d["pq_report"] = """
        SELECT t.sub,
               (SELECT count(*) FROM embeddings) AS n,
               TRUE AS improved
        FROM (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) t(sub)
        ORDER BY t.sub
    """
    d["bpe_merge_step"] = r"""
        WITH words AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
          FROM documents WHERE length(trim(text)) > 0
        ),
        wc AS (
          SELECT w, count(*) AS c FROM words WHERE length(w) >= 2 GROUP BY w
        ),
        pairs AS (
          SELECT unnest([{'a': w[i:i], 'b': w[i+1:i+1]}
                         for i in range(1, length(w))]) AS p,
                 c
          FROM wc
        ),
        agg AS (
          SELECT p.a AS a, p.b AS b, CAST(sum(c) AS BIGINT) AS pair_count
          FROM pairs GROUP BY 1, 2
        ),
        ranked AS (
          SELECT *, CAST(row_number() OVER (ORDER BY pair_count DESC, a, b)
                         AS INTEGER) AS rank
          FROM agg
        )
        SELECT rank, a, b, pair_count FROM ranked WHERE rank <= 20
        ORDER BY rank
    """
    d["char_entropy"] = r"""
        WITH chars AS (
          SELECT doc_id, length(text) AS n,
                 unnest([text[i:i] for i in range(1, length(text) + 1)]) AS ch
          FROM documents WHERE length(text) > 0
        ),
        counts AS (
          SELECT doc_id, n, ch, count(*) AS c FROM chars GROUP BY 1, 2, 3
        ),
        terms AS (
          SELECT doc_id, n,
                 CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                            * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                      AS DECIMAL(18,6)) AS term
          FROM counts
        ),
        ent AS (
          SELECT doc_id, n AS n_chars, CAST(SUM(term) AS DOUBLE) AS entropy_nats
          FROM terms GROUP BY 1, 2
        )
        SELECT doc_id, n_chars, entropy_nats FROM ent
        ORDER BY entropy_nats DESC, doc_id LIMIT 20
    """
    d["zipf_slope"] = r"""
        WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
          FROM documents WHERE length(trim(text)) > 0
        ),
        tf AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
        top AS (SELECT * FROM tf ORDER BY c DESC, term LIMIT 500),
        ranked AS (
          SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r FROM top
        ),
        q AS (
          SELECT CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(12,9)) AS x,
                 CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
          FROM ranked
        ),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy,
                 SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx,
                 SUM(CAST(y * y AS DECIMAL(38,18))) AS syy
          FROM q
        )
        SELECT n,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS slope,
               round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                 AS r2
        FROM m
    """
    # ann_ivf_topk: pinned-centroid IVF partial probe, fully closed-form.
    # Assignment/probe/cut all use round-6 sims with (sim DESC, cell/id
    # ASC) tie-breaks — the semdedup determinism trick applied to ANN.
    d["ann_ivf_topk"] = """
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS nrm
          FROM v
        ),
        q AS (SELECT e AS qe, nrm AS qnrm FROM n WHERE vec_id = 0),
        seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
                 e AS se, nrm AS snrm
          FROM n WHERE vec_id BETWEEN 1 AND 8
        ),
        corpus AS (SELECT * FROM n WHERE vec_id <> 0),
        sims AS (
          SELECT a.vec_id, s.cell,
                 round(list_reduce(list_prepend(0.0,
                         [a.e[i] * s.se[i] for i in range(1, len(a.e) + 1)]),
                         (x, y) -> x + y) / (a.nrm * s.snrm), 6) AS cs
          FROM corpus a CROSS JOIN seeds s
        ),
        assigned AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cs DESC, cell ASC) AS rn
            FROM sims
          ) WHERE rn = 1
        ),
        probe AS (
          SELECT cell FROM (
            SELECT s.cell,
                   round(list_reduce(list_prepend(0.0,
                           [s.se[i] * q.qe[i] for i in range(1, len(s.se) + 1)]),
                           (x, y) -> x + y) / (s.snrm * q.qnrm), 6) AS cs
            FROM seeds s, q
          ) ORDER BY cs DESC, cell ASC LIMIT 4
        ),
        scored AS (
          SELECT c.vec_id,
                 round(list_reduce(list_prepend(0.0,
                         [c.e[i] * q.qe[i] for i in range(1, len(c.e) + 1)]),
                         (x, y) -> x + y) / (c.nrm * q.qnrm), 6) AS cos_sim
          FROM corpus c, q
          JOIN assigned a ON a.vec_id = c.vec_id
          WHERE a.cell IN (SELECT cell FROM probe)
        )
        SELECT vec_id, cos_sim FROM scored
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """
    d["audio_rms_features"] = """
        WITH a AS (
          SELECT doc_id, text, length(text) AS n
          FROM documents WHERE doc_id % 2 = 1
        ),
        ch AS (
          SELECT doc_id, n,
                 unnest([{'i': i, 'c': unicode(text[i:i])}
                         for i in range(1, n + 1)]) AS p
          FROM a
        ),
        seg AS (
          SELECT doc_id, n,
                 CASE WHEN (p.i - 1) < (n % 8) * (n // 8 + 1)
                      THEN (p.i - 1) // (n // 8 + 1)
                      ELSE (n % 8) + ((p.i - 1) - (n % 8) * (n // 8 + 1)) // (n // 8)
                 END AS s,
                 (p.c - 128) * (p.c - 128) AS sq
          FROM ch
        ),
        r AS (
          SELECT doc_id, s, CAST(sum(sq) AS BIGINT) AS ss, count(*) AS cnt
          FROM seg GROUP BY 1, 2
        )
        SELECT a.doc_id AS media_id,
               coalesce(max(CASE WHEN s = 0 THEN round(sqrt(CAST(ss AS DOUBLE) / cnt) / 128, 6) END), 0.0) AS rms0,
               coalesce(max(CASE WHEN s = 1 THEN round(sqrt(CAST(ss AS DOUBLE) / cnt) / 128, 6) END), 0.0) AS rms1,
               coalesce(max(CASE WHEN s = 2 THEN round(sqrt(CAST(ss AS DOUBLE) / cnt) / 128, 6) END), 0.0) AS rms2,
               coalesce(max(CASE WHEN s = 3 THEN round(sqrt(CAST(ss AS DOUBLE) / cnt) / 128, 6) END), 0.0) AS rms3,
               coalesce(max(CASE WHEN s = 4 THEN round(sqrt(CAST(ss AS DOUBLE) / cnt) / 128, 6) END), 0.0) AS rms4,
               coalesce(max(CASE WHEN s = 5 THEN round(sqrt(CAST(ss AS DOUBLE) / cnt) / 128, 6) END), 0.0) AS rms5,
               coalesce(max(CASE WHEN s = 6 THEN round(sqrt(CAST(ss AS DOUBLE) / cnt) / 128, 6) END), 0.0) AS rms6,
               coalesce(max(CASE WHEN s = 7 THEN round(sqrt(CAST(ss AS DOUBLE) / cnt) / 128, 6) END), 0.0) AS rms7
        FROM a LEFT JOIN r ON r.doc_id = a.doc_id
        GROUP BY a.doc_id
    """
    # decoded-content integrity pair: PNG pixels = text bytes zero-padded
    # to full 64-wide rows (min one row); WAV PCM = text bytes exactly.
    # Padding adds pixel COUNT but zero SUM, so content_checksum is the
    # plain code-point sum either way (corpus is ASCII — asserted by
    # tests/test_pipeline.py::test_documents_corpus_is_ascii).
    d["multimodal_features"] = """
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
               CAST(CASE WHEN doc_id % 2 = 0
                         THEN 64 * greatest((length(text) + 63) // 64, 1)
                         ELSE length(text) END AS BIGINT) AS n_content,
               CAST(coalesce(list_sum(list_transform(
                      string_split_regex(text, ''),
                      c -> CAST(ascii(c) AS BIGINT))), 0) AS BIGINT)
                 AS content_checksum
        FROM documents
    """
    d["stream_stream_join_parity"] = """
        WITH p AS (
          SELECT event_id, user_id, value, epoch_ms(ts) AS ms
          FROM events WHERE event_type = 'purchase'
        ),
        c AS (
          SELECT user_id, epoch_ms(ts) AS ms
          FROM events WHERE event_type = 'click'
        ),
        j AS (
          SELECT p.event_id, p.user_id, p.value
          FROM p JOIN c ON c.user_id = p.user_id
           AND c.ms >= p.ms - 3600000 AND c.ms <= p.ms
        )
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT event_id) AS BIGINT) AS n_purchases,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(FLOOR(value * 100)) AS BIGINT) AS pair_value_cents
        FROM j
    """
    d["scd2_intervals"] = """
        WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS t, event_id
          FROM events
        ),
        runs AS (
          SELECT user_id, event_type, t,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY t, event_id)
                 - row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY t, event_id) AS island
          FROM e
        ),
        iv AS (
          SELECT user_id, event_type, min(t) AS valid_from_us
          FROM runs GROUP BY user_id, event_type, island
        )
        SELECT user_id, event_type, valid_from_us,
               lead(valid_from_us) OVER (PARTITION BY user_id
                                         ORDER BY valid_from_us, event_type)
                 AS valid_to_us
        FROM iv
        ORDER BY user_id, valid_from_us, event_type LIMIT 200
    """
    d["weighted_sample"] = """
        WITH keyed AS (
          SELECT doc_id, source, n_chars,
                 round(ln((((doc_id % 1000000) * (2654435761 % 1000000))
                            % 1000000 + 0.5) / 1000000.0)
                       / CAST(n_chars AS DOUBLE), 9) AS k
          FROM documents
        ),
        ranked AS (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY k DESC, doc_id) AS rn
          FROM keyed
        )
        SELECT doc_id, source, n_chars FROM ranked WHERE rn <= 5
    """
    d["quantile_normalize"] = """
        SELECT doc_id, source, n_chars,
               CASE WHEN count(*) OVER (PARTITION BY source) > 1
                    THEN CAST(row_number() OVER (PARTITION BY source
                                                 ORDER BY n_chars, doc_id) - 1
                              AS DOUBLE)
                         / (count(*) OVER (PARTITION BY source) - 1)
                    ELSE 0.0 END AS q_norm
        FROM documents
    """
    d["pivot_matrix"] = """
        SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events GROUP BY 1
    """
    d["resample_hourly"] = """
        WITH b AS (
          SELECT epoch_us(min(ts)) // 3600000000 AS h0,
                 epoch_us(max(ts)) // 3600000000 AS h1
          FROM events
        ),
        spine AS (
          SELECT g.event_type, gs.h
          FROM (SELECT DISTINCT event_type FROM events) g,
               b, LATERAL (SELECT unnest(generate_series(b.h0, b.h1)) AS h) gs
        ),
        c AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
          FROM events GROUP BY 1, 2
        )
        SELECT s.event_type, CAST(s.h AS BIGINT) AS hour,
               CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.h = s.h
    """
    d["ks_test"] = """
        WITH f AS (
          SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                 (event_type = 'click') AS is_a
          FROM events WHERE event_type IN ('click', 'purchase')
        ),
        counts AS (
          SELECT cents,
                 CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                 CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
          FROM f GROUP BY cents
        ),
        cum AS (
          SELECT CAST(SUM(ca) OVER (ORDER BY cents) AS BIGINT) AS cum_a,
                 CAST(SUM(cb) OVER (ORDER BY cents) AS BIGINT) AS cum_b
          FROM counts
        ),
        tot AS (
          SELECT CAST(max(cum_a) AS BIGINT) AS n_a,
                 CAST(max(cum_b) AS BIGINT) AS n_b
          FROM cum
        )
        SELECT t.n_a, t.n_b,
               CAST(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS BIGINT)
                 AS d_num,
               t.n_a * t.n_b AS d_den,
               CAST(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS DOUBLE)
                 / CAST(t.n_a * t.n_b AS DOUBLE) AS d_stat
        FROM cum c, tot t GROUP BY t.n_a, t.n_b
    """
    # same pipeline as ks_test with the 500-cent pre-bucketing applied at
    # the scan: floor(cents/500) is the only line that differs
    d["ks_test_grid"] = d["ks_test"].replace(
        "CAST(floor(value * 100) AS BIGINT) AS cents",
        "CAST(floor(floor(value * 100) / 500) AS BIGINT) AS cents",
    )
    d["edit_distance_pairs"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+1], ' ')
                                       for i in range(1, len(t))])) AS shingle
          FROM toks
        ),
        dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        rare AS (
          SELECT sh.doc_id, sh.shingle FROM sh
          JOIN dfc USING (shingle) WHERE dfc.df <= 100
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM rare a JOIN rare b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        v AS (
          SELECT c.id_a, c.id_b, levenshtein(da.text, db.text) AS ed
          FROM cand c
          JOIN documents da ON da.doc_id = c.id_a
          JOIN documents db ON db.doc_id = c.id_b
          WHERE abs(length(da.text) - length(db.text)) <= 32
        )
        SELECT id_a, id_b, CAST(ed AS INTEGER) AS edit_dist FROM v
        WHERE ed <= 32 ORDER BY edit_dist, id_a, id_b LIMIT 50
    """
    d["stream_rollup_parity"] = """
        SELECT event_type, count(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type
    """
    d["quantile_rollup"] = r"""
        WITH b AS (
          SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bucket,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        cum AS (
          SELECT event_type, bucket,
                 CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bucket)
                      AS BIGINT) AS cum,
                 CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM b
        ),
        p50 AS (
          SELECT event_type, min(bucket) AS b FROM cum
          WHERE cum >= ceil(0.5 * n) GROUP BY 1
        ),
        p99 AS (
          SELECT event_type, min(bucket) AS b FROM cum
          WHERE cum >= ceil(0.99 * n) GROUP BY 1
        )
        SELECT p50.event_type,
               (p50.b + 1) * CAST(5.0 AS DOUBLE) AS p50_upper,
               (p99.b + 1) * CAST(5.0 AS DOUBLE) AS p99_upper
        FROM p50 JOIN p99 USING (event_type)
        ORDER BY event_type
    """
    d["partition_prune"] = r"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(SUM(FLOOR(value * 100)) AS BIGINT) AS value_cents,
               TRUE AS pruned_scan
        FROM events WHERE event_type = 'click' GROUP BY event_type
    """
    d["simhash_pairs"] = f"""
        WITH s AS (
          SELECT doc_id AS id,
                 (doc_id // 10) * {_SIMHASH_GROUP_MULT}
                   + (doc_id % 10) + (doc_id % 2) * {1 << 50} AS sig
          FROM documents
        )
        SELECT a.id AS id_a, b.id AS id_b,
               bit_count(xor(a.sig, b.sig)) AS hamming
        FROM s a JOIN s b ON a.id < b.id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
        ORDER BY id_a, id_b
    """
    # same contract as simhash_pairs: the 6-block Spark run must emit the
    # identical brute-force pair set (pigeonhole recall at blocks >= h+1)
    d["simhash_pairs_multiblock"] = d["simhash_pairs"]
    # full text->signature->pairs twin: DuckDB rebuilds every 57-bit
    # signature from the same portable polynomial token hash, then joins
    # brute-force — equal to the blocked run by the recall guarantee
    _sb_bits = ",\n                 ".join(
        f"SUM((h >> {i}) & 1) AS c{i}" for i in range(57)
    )
    _sb_sig = "\n                 + ".join(
        f"(CASE WHEN 2*c{i} > t THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(57)
    )
    d["simhash_blocks"] = rf"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents
        ),
        h AS (
          SELECT doc_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(tok, ''),
                     c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % {_SIMHASH_POLY_MOD}) AS h
          FROM toks
        ),
        bits AS (
          SELECT doc_id, count(*) AS t,
                 {_sb_bits}
          FROM h GROUP BY doc_id
        ),
        sigs AS (
          SELECT doc_id AS id,
                 {_sb_sig} AS sig
          FROM bits
        )
        SELECT a.id AS id_a, b.id AS id_b,
               bit_count(xor(a.sig, b.sig)) AS hamming
        FROM sigs a JOIN sigs b ON a.id < b.id
        WHERE bit_count(xor(a.sig, b.sig)) <= 2
        ORDER BY id_a, id_b
    """
    d["bucketed_join"] = """
        SELECT o_orderpriority, count(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    """
    d["token_commonness"] = r"""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
        SELECT doc_id AS id, count(*) AS n_tokens,
               round(avg(c), 6) AS avg_token_count,
               round(SUM(CASE WHEN c <= 2 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS rare_frac
        FROM toks JOIN vocab USING (tok)
        GROUP BY doc_id
    """
    d["bigram_lm"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        uni AS (SELECT unnest(t) AS w FROM toks),
        uc AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
        v AS (SELECT count(*) AS vs FROM uc),
        bg AS (
          SELECT doc_id,
                 unnest([t[i] for i in range(1, len(t))]) AS w1,
                 unnest([t[i + 1] for i in range(1, len(t))]) AS w2
          FROM toks WHERE len(t) >= 2
        ),
        bc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        scored AS (
          SELECT bg.doc_id,
                 CAST(round(-ln((bc.c2 + 1.0) / (uc.c1 + CAST(v.vs AS DOUBLE))), 6)
                      AS DECIMAL(18,6)) AS nll
          FROM bg
          JOIN bc USING (w1, w2)
          JOIN uc ON uc.w = bg.w1
          CROSS JOIN v
        )
        SELECT doc_id AS id, count(*) AS n_bigrams,
               CAST(SUM(nll) AS DOUBLE) AS sum_nll,
               CAST((2 * CAST(SUM(nll) * 1000000 AS BIGINT) + count(*))
                    // (2 * count(*)) AS DOUBLE) / 1000000.0 AS avg_nll
        FROM scored GROUP BY doc_id
    """
    d["lexical_cosine"] = r"""
        WITH toks AS (
          SELECT doc_id AS id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        tf AS (SELECT id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT tok, count(*) AS dfc FROM tf GROUP BY tok),
        tff AS (
          SELECT tf.id, tf.tok, tf.tf FROM tf JOIN dfreq USING (tok)
          WHERE dfc <= 100
        ),
        nrm AS (SELECT id, SUM(tf * tf) AS nrm2 FROM tff GROUP BY id),
        dots AS (
          SELECT a.id AS id_a, b.id AS id_b, SUM(a.tf * b.tf) AS dot
          FROM tff a JOIN tff b ON a.tok = b.tok AND a.id < b.id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(dot / (sqrt(na.nrm2) * sqrt(nb.nrm2)), 6) AS cos_sim
        FROM dots
        JOIN nrm na ON na.id = id_a
        JOIN nrm nb ON nb.id = id_b
        WHERE round(dot / (sqrt(na.nrm2) * sqrt(nb.nrm2)), 6) >= 0.5
        ORDER BY cos_sim DESC, id_a, id_b LIMIT 20
    """
    d["profile_table"] = """
        WITH o AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
                 CAST(o_orderdate AS DATE) AS o_orderdate,
                 o_orderpriority
          FROM orders
        )
        SELECT 'o_orderkey' AS "column", count(o_orderkey) AS n,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_value,
               CAST(max(o_orderkey) AS VARCHAR) AS max_value
        FROM o
        UNION ALL
        SELECT 'o_custkey', count(o_custkey),
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        FROM o
        UNION ALL
        SELECT 'o_orderstatus', count(o_orderstatus),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderstatus),
               min(o_orderstatus), max(o_orderstatus)
        FROM o
        UNION ALL
        SELECT 'o_totalprice', count(o_totalprice),
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_totalprice),
               CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
        FROM o
        UNION ALL
        SELECT 'o_orderdate', count(o_orderdate),
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderdate),
               CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
        FROM o
        UNION ALL
        SELECT 'o_orderpriority', count(o_orderpriority),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderpriority),
               min(o_orderpriority), max(o_orderpriority)
        FROM o
    """
    d["changelog_upsert"] = """
        WITH f AS (
          SELECT p_partkey AS pk,
                 'u' || CAST(p_partkey % 5 AS VARCHAR) AS u,
                 CAST(floor(p_retailprice) AS BIGINT) AS sz
          FROM part
        ),
        survivors AS (
          SELECT u AS "user",
                 CASE WHEN pk % 10 = 1 THEN 2 * sz ELSE sz END AS sz
          FROM f WHERE pk % 10 NOT IN (0, 3)
          UNION ALL
          SELECT 'fresh' AS "user", pk AS sz FROM f WHERE pk % 10 = 2
        )
        SELECT "user", count(*) AS cnt, CAST(SUM(sz) AS BIGINT) AS sum_size
        FROM survivors GROUP BY 1 ORDER BY 1
    """
    d["save_namespace_roundtrip"] = """
        WITH f AS (
          SELECT '/' || p_type || '/' || replace(p_name, ' ', '/')
                 || '/part_' || p_partkey AS path,
                 CAST(floor(p_retailprice) AS BIGINT) AS sz
          FROM part
        ),
        e AS (SELECT string_split(path, '/') AS parts FROM f),
        anc AS (
          SELECT DISTINCT CASE WHEN i = 1 THEN '/'
                               ELSE array_to_string(parts[1:i], '/') END AS a
          FROM e, unnest(generate_series(1, len(parts) - 1)) AS t(i)
        )
        SELECT 'dir' AS type, count(*) AS cnt, CAST(NULL AS BIGINT) AS sum_size
        FROM anc
        UNION ALL
        SELECT 'file' AS type, count(*) AS cnt, CAST(SUM(sz) AS BIGINT) AS sum_size
        FROM f
        ORDER BY type
    """
    d["replica_histogram"] = """
        WITH f AS (
          SELECT CASE WHEN p_partkey % 7 = 0 THEN 'RS-6-3-1024k'
                      ELSE CAST(1 + p_partkey % 3 AS VARCHAR) END AS r
          FROM part
        )
        SELECT r AS "fileReplica", count(*) AS "count" FROM f GROUP BY 1
    """
    d["dir_quota_histogram"] = """
        WITH f AS (
          SELECT '/' || p_type || '/' || replace(p_name, ' ', '/')
                 || '/part_' || p_partkey AS path
          FROM part
        ),
        e AS (SELECT string_split(path, '/') AS parts FROM f),
        anc AS (
          SELECT DISTINCT CASE WHEN i = 1 THEN '/'
                               ELSE array_to_string(parts[1:i], '/') END AS a
          FROM e, unnest(generate_series(1, len(parts) - 1)) AS t(i)
        )
        SELECT a AS "dirQuota",
               CAST(floor(100 * 100.0 / 9000) AS BIGINT) AS "nsQuotaRatioUsed"
        FROM anc WHERE length(a) % 3 = 0
    """
    # --- portable MinHash-LSH twins (rows-only until r6) ---
    # DuckDB replays the full pipeline: distinct 3-gram shingles, the
    # polynomial fingerprint, all k linear permutations mod the 2^53
    # prime, band value-string buckets, the candidate equi-join, and
    # (for the verified row) exact Jaccard — byte-identical to
    # dedup.minhash_lsh_pairs(portable=True).
    _mh_mod = 9007199254740881

    def _mh_prefix(k: int) -> str:
        mins = ",\n                 ".join(
            f"min(({2 * i + 1} * h0 + {i * i + i + 41}) % {_mh_mod}) AS h{i}"
            for i in range(k)
        )
        return rf"""
        t AS (
          SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
          FROM documents
        ),
        tk AS (SELECT doc_id, string_split(norm, ' ') AS w FROM t),
        sh AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
          FROM tk, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
        ),
        hh AS (
          SELECT doc_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(s, ''),
                     c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % {_mh_mod}) AS h0
          FROM sh
        ),
        sig AS (
          SELECT doc_id,
                 {mins}
          FROM hh GROUP BY doc_id
        )"""

    def _mh_flat(k: int, bands: int) -> str:
        rows = k // bands
        structs = ",\n                   ".join(
            "{'band': %d, 'bucket': %s}"
            % (
                b,
                " || '_' || ".join(
                    f"CAST(h{b * rows + j} AS VARCHAR)" for j in range(rows)
                ),
            )
            for b in range(bands)
        )
        return f"""
        banded AS (
          SELECT doc_id,
                 unnest([{structs}]) AS bb
          FROM sig
        ),
        fl AS (SELECT doc_id, bb.band AS band, bb.bucket AS bucket FROM banded),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM fl a JOIN fl b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )"""

    d["minhash_lsh_pairs"] = (
        "WITH" + _mh_prefix(32) + "," + _mh_flat(32, 8)
        + "\n        SELECT id_a, id_b FROM cand ORDER BY id_a, id_b"
    )
    d["lsh_verified_pairs"] = (
        "WITH" + _mh_prefix(32) + "," + _mh_flat(32, 16)
        + """,
        sets AS (SELECT doc_id, list(DISTINCT s) AS ss FROM sh GROUP BY 1),
        scored AS (
          SELECT c.id_a, c.id_b,
                 round(len(list_intersect(a.ss, b.ss))
                       / CAST(len(a.ss) + len(b.ss)
                              - len(list_intersect(a.ss, b.ss)) AS DOUBLE),
                       6) AS jaccard
          FROM cand c
          JOIN sets a ON a.doc_id = c.id_a
          JOIN sets b ON b.doc_id = c.id_b
        )
        SELECT id_a, id_b, jaccard FROM scored
        WHERE jaccard >= 0.3 ORDER BY id_a, id_b"""
    )
    # exact k-NN graph: brute-force window over all n^2 cosine scores
    d["knn_graph"] = """
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS nrm
          FROM v
        ),
        p AS (
          SELECT a.vec_id AS id, b.vec_id AS nbr,
                 round(list_reduce(list_prepend(0.0,
                         [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                         (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cos_sim
          FROM n a JOIN n b ON a.vec_id != b.vec_id
        ),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY id ORDER BY cos_sim DESC, nbr) AS rank
          FROM p
        )
        SELECT id AS vec_id, CAST(rank AS INT) AS rank, nbr, cos_sim
        FROM r WHERE rank <= 5 ORDER BY vec_id, rank
    """
    # stationary distribution: the same transition matrix as
    # event_transitions quantized to integer micros, then the EXACT
    # integer power iteration unrolled as chained CTEs (one per step) —
    # GROUP BY in a recursive CTE is non-standard, and at |types| states
    # the unrolled plan is trivially small
    _mk_steps = []
    for _i in range(20):
        prev = f"it{_i}"
        _mk_steps.append(f"""
        it{_i + 1} AS (
          SELECT s.state,
                 CAST((coalesce(x.acc, 0) + 500000) // 1000000 AS BIGINT) AS pm
          FROM states s LEFT JOIN (
            SELECT m2.to_type AS state, SUM(it.pm * m2.pmic) AS acc
            FROM {prev} it JOIN m2 ON m2.from_type = it.state
            GROUP BY 1
          ) x USING (state)
        )""")
    d["markov_stationary"] = (
        """
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS prev_type
          FROM events
        ),
        matrix AS (
          SELECT prev_type AS from_type, event_type AS to_type, count(*) AS cnt
          FROM seq WHERE prev_type IS NOT NULL
          GROUP BY 1, 2
        ),
        m AS (
          SELECT from_type, to_type,
                 CAST(round(round(CAST(cnt AS DOUBLE)
                       / SUM(cnt) OVER (PARTITION BY from_type), 6)
                       * 1000000) AS BIGINT) AS pmic
          FROM matrix
        ),
        states AS (SELECT DISTINCT from_type AS state FROM m),
        m2 AS (SELECT * FROM m WHERE to_type IN (SELECT state FROM states)),
        it0 AS (
          SELECT state,
                 CAST(1000000 // (SELECT count(*) FROM states) AS BIGINT) AS pm
          FROM states
        ),"""
        + ",".join(_mk_steps)
        + """
        SELECT state, pm AS stationary_micros,
               round(pm / 1000000.0, 6) AS stationary_p
        FROM it20 ORDER BY state
    """
    )
    # snapshot diff: both namespaces recomputed from range(), the
    # full-outer classification replayed over (fileSize, modTime, user)
    _old_files = _oivgen.oracle_sql(n_dirs=4, files_per_dir=25)
    _new_files = _oivgen.oracle_sql(n_dirs=5, files_per_dir=17)
    d["snapshot_diff"] = f"""
        WITH o AS (
          SELECT path, "fileSize", "modTime", "user", TRUE AS present
          FROM ({_old_files})
        ),
        nn AS (
          SELECT path, "fileSize", "modTime", "user", TRUE AS present
          FROM ({_new_files})
        ),
        j AS (
          SELECT coalesce(o.path, nn.path) AS path,
                 o.present AS in_old, nn.present AS in_new,
                 o."fileSize" AS old_fileSize, o."modTime" AS old_modTime,
                 o."user" AS old_user,
                 nn."fileSize" AS new_fileSize, nn."modTime" AS new_modTime,
                 nn."user" AS new_user
          FROM o FULL OUTER JOIN nn ON o.path = nn.path
        )
        SELECT path,
               CASE WHEN in_old IS NULL THEN 'added'
                    WHEN in_new IS NULL THEN 'deleted'
                    WHEN old_fileSize IS NOT DISTINCT FROM new_fileSize
                         AND old_modTime IS NOT DISTINCT FROM new_modTime
                         AND old_user IS NOT DISTINCT FROM new_user
                    THEN 'unchanged' ELSE 'modified' END AS change,
               old_fileSize, old_modTime, old_user,
               new_fileSize, new_modTime, new_user
        FROM j ORDER BY path
    """
    d["funnel_conversion_time"] = """
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        ),
        u1 AS (
          SELECT user_id, min(t) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY user_id
        ),
        u2 AS (
          SELECT e.user_id, min(t1) AS t1, min(t) AS t2
          FROM e JOIN u1 USING (user_id)
          WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id
        ),
        u3 AS (
          SELECT e.user_id, min(t1) AS t1, min(t) AS t3
          FROM e JOIN u2 USING (user_id)
          WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id
        ),
        s2 AS (
          SELECT 2 AS step, 'click' AS event_type,
                 CAST(count(*) AS BIGINT) AS users,
                 round(CAST(SUM(t2 - t1) AS DOUBLE) / count(*) / 1000000, 6)
                   AS mean_s,
                 round(quantile_cont(t2 - t1, 0.5) / 1000000, 6) AS p50_s
          FROM u2
        ),
        s3 AS (
          SELECT 3 AS step, 'purchase' AS event_type,
                 CAST(count(*) AS BIGINT) AS users,
                 round(CAST(SUM(t3 - t1) AS DOUBLE) / count(*) / 1000000, 6)
                   AS mean_s,
                 round(quantile_cont(t3 - t1, 0.5) / 1000000, 6) AS p50_s
          FROM u3
        )
        SELECT * FROM s2 UNION ALL SELECT * FROM s3 ORDER BY step
    """
    d["forward_fill"] = """
        WITH e AS (
          SELECT event_id, user_id, epoch_us(ts) AS t,
                 CASE WHEN event_id % 3 = 0 THEN value END AS value
          FROM events
        )
        SELECT event_id, user_id, value,
               last_value(value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_filled
        FROM e ORDER BY event_id
    """
    d["stream_locf_parity"] = """
        WITH e AS (
          SELECT event_id, user_id, epoch_ms(ts) AS t,
                 CASE WHEN event_id % 4 = 0 THEN value END AS value
          FROM events WHERE user_id % 4 = 0
        )
        SELECT event_id, user_id, value,
               last_value(value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_filled
        FROM e ORDER BY event_id
    """
    d["dedup_method_agreement"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in range(1, len(t) - 1)])) AS shingle
          FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        rare AS (
          SELECT sh.doc_id, sh.shingle FROM sh
          JOIN dfc USING (shingle) WHERE dfc.df <= 100
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM rare a JOIN rare b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        common AS (
          SELECT c.id_a, c.id_b, count(*) AS c
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
          GROUP BY 1, 2
        ),
        lex AS (
          SELECT id_a, id_b FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(c / (sa.n + sb.n - c), 6) >= 0.6
        ),
        v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        nv AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS nrm
          FROM v
        ),
        cents AS (
          SELECT e AS ce, nrm AS cm,
                 CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
          FROM nv WHERE vec_id % 200 = 0
        ),
        asg AS (
          SELECT vec_id, cell FROM (
            SELECT a.vec_id, c.cell,
                   row_number() OVER (PARTITION BY a.vec_id ORDER BY
                     round(list_reduce(list_prepend(0.0,
                       [a.e[i] * c.ce[i] for i in range(1, len(a.e) + 1)]),
                       (x, y) -> x + y) / (a.nrm * c.cm), 6) DESC, c.cell ASC) AS rk
            FROM nv a CROSS JOIN cents c) WHERE rk <= 2
        ),
        av AS (
          SELECT n.vec_id, n.e, n.nrm, s.cell
          FROM nv n JOIN asg s ON n.vec_id = s.vec_id
        ),
        sem_cell AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_reduce(list_prepend(0.0,
                  [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                  (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= 0.4
        ),
        sem_lex AS (
          SELECT l.id_a, l.id_b
          FROM lex l
          JOIN nv a ON a.vec_id = l.id_a
          JOIN nv b ON b.vec_id = l.id_b
          WHERE round(list_reduce(list_prepend(0.0,
                  [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                  (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= 0.4
        ),
        sem AS (
          SELECT id_a, id_b FROM sem_cell
          UNION
          SELECT id_a, id_b FROM sem_lex
        ),
        j AS (
          SELECT coalesce(l.id_a, s.id_a) AS id_a,
                 coalesce(l.id_b, s.id_b) AS id_b,
                 l.id_a IS NOT NULL AS in_l, s.id_a IS NOT NULL AS in_s
          FROM lex l FULL OUTER JOIN sem s
            ON l.id_a = s.id_a AND l.id_b = s.id_b
        )
        SELECT CAST(SUM(CASE WHEN in_l THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN in_l AND in_s THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_both,
               round(SUM(CASE WHEN in_l AND in_s THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS agreement_jaccard
        FROM j
    """
    d["hard_negatives"] = """
        WITH v AS (
          SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, label, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS nrm
          FROM v
        ),
        p AS (
          SELECT a.vec_id AS id, b.vec_id AS nbr,
                 round(list_reduce(list_prepend(0.0,
                         [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                         (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cos_sim
          FROM n a JOIN n b
            ON a.vec_id != b.vec_id AND a.label != b.label
        ),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY id ORDER BY cos_sim DESC, nbr) AS rank
          FROM p
        )
        SELECT id AS vec_id, CAST(rank AS INT) AS rank, nbr, cos_sim
        FROM r WHERE rank <= 5 ORDER BY vec_id, rank
    """
    d["embedding_dim_stats"] = """
        WITH v AS (
          SELECT [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings
        ),
        pos AS (
          SELECT i - 1 AS dim,
                 CAST(round(e[i], 9) AS DECIMAL(18,9)) AS x
          FROM v, unnest(generate_series(1, len(e))) AS t(i)
        )
        SELECT CAST(dim AS INT) AS dim,
               round(CAST(SUM(x) AS DOUBLE) / count(*), 6) AS mean,
               round(CAST(SUM(x * x) AS DOUBLE) / count(*)
                     - (CAST(SUM(x) AS DOUBLE) / count(*))
                       * (CAST(SUM(x) AS DOUBLE) / count(*)), 6) AS variance
        FROM pos GROUP BY dim ORDER BY dim
    """
    d["embedding_anisotropy"] = """
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        n0 AS (
          SELECT e, sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                     (a, b) -> a + b)) AS nrm
          FROM v
        ),
        pos AS (
          SELECT i - 1 AS dim,
                 CAST(round(e[i] / nrm, 9) AS DECIMAL(18,9)) AS u
          FROM n0, unnest(generate_series(1, len(e))) AS t(i)
        ),
        s AS (SELECT dim, SUM(u) AS s FROM pos GROUP BY 1),
        cnt AS (SELECT count(*) AS n FROM v)
        SELECT CAST(n AS BIGINT) AS n_vectors,
               round((SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) - n)
                     / (n * (n - 1)), 6) AS mean_pairwise_cosine
        FROM s, cnt GROUP BY n
    """
    _to_m = 1_000_003
    _to_k = 2654435761 % _to_m
    d["training_order"] = f"""
        WITH k AS (
          SELECT doc_id,
                 (((doc_id + 40503) % {_to_m}) * {_to_k}) % {_to_m} AS key
          FROM documents
        )
        SELECT doc_id,
               CAST(key % 8 AS INT) AS shard,
               CAST(row_number() OVER (
                 PARTITION BY key % 8 ORDER BY key, doc_id) - 1 AS INT)
                 AS position
        FROM k ORDER BY shard, position
    """
    d["video_scene_change"] = """
        WITH f AS (
          SELECT doc_id, text, length(text) AS n,
                 greatest(CAST(ceil(length(text) / 128.0) AS INT), 1) AS nf
          FROM documents
        ),
        ch AS (
          SELECT doc_id, i - 1 AS j, unicode(text[i:i]) AS b
          FROM f, unnest(generate_series(1, n)) AS t(i)
        ),
        pos AS (
          SELECT doc_id, nf, p - 1 AS j
          FROM f, unnest(generate_series(1, (nf - 1) * 128)) AS t(p)
          WHERE nf > 1
        ),
        dd AS (
          SELECT pos.doc_id, pos.nf,
                 abs(coalesce(r.b, 0) - coalesce(l.b, 0)) AS ad
          FROM pos
          LEFT JOIN ch l ON l.doc_id = pos.doc_id AND l.j = pos.j
          LEFT JOIN ch r ON r.doc_id = pos.doc_id AND r.j = pos.j + 128
        ),
        multi AS (
          SELECT doc_id AS media_id, CAST(max(nf) AS INT) AS n_frames,
                 CAST(max(nf) - 1 AS INT) AS n_transitions,
                 floor(CAST(SUM(ad) AS DOUBLE) / ((max(nf) - 1) * 128)
                       * 1000000 + 0.5) / 1000000 AS mean_abs_diff
          FROM dd GROUP BY doc_id
        ),
        single AS (
          SELECT doc_id AS media_id, 1 AS n_frames, 0 AS n_transitions,
                 0.0 AS mean_abs_diff
          FROM f WHERE nf = 1
        )
        SELECT * FROM multi UNION ALL SELECT * FROM single
        ORDER BY media_id
    """
    # --- round-6 corpus-analysis operators ---
    d["ngram_novelty"] = r"""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
          FROM documents
        ),
        g AS (
          SELECT doc_id,
                 unnest([array_to_string(tk[i:i+2], ' ')
                         for i in range(1, len(tk) - 1)]) AS gram
          FROM t WHERE len(tk) >= 3
        ),
        first AS (SELECT gram, min(doc_id) AS fid FROM g GROUP BY 1),
        sc AS (
          SELECT g.doc_id, count(*) AS n_grams,
                 SUM(CASE WHEN f.fid = g.doc_id THEN 1 ELSE 0 END) AS novel_grams
          FROM g JOIN first f USING (gram) GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(sc.novel_grams, 0) AS BIGINT) AS novel_grams,
               round(coalesce(CAST(sc.novel_grams AS DOUBLE) / sc.n_grams, 0.0), 6)
                 AS novelty
        FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
        ORDER BY d.doc_id
    """
    d["token_burstiness"] = r"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        pd AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        st AS (
          SELECT tok, CAST(SUM(c) AS BIGINT) AS total_count,
                 CAST(count(*) AS BIGINT) AS doc_freq
          FROM pd GROUP BY 1
        )
        SELECT tok, total_count, doc_freq,
               CAST(CAST(CAST(total_count AS DOUBLE) / doc_freq
                         AS DECIMAL(18,6)) AS DOUBLE) AS burstiness
        FROM st ORDER BY burstiness DESC, tok LIMIT 30
    """
    d["rouge_overlap"] = r"""
        WITH toks AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        sz AS (SELECT id, count(*) AS n FROM toks GROUP BY 1),
        ov AS (
          SELECT a.id, count(*) AS overlap
          FROM toks a JOIN toks b ON b.id = a.id + 1 AND b.tok = a.tok
          WHERE a.id % 2 = 0 GROUP BY 1
        )
        SELECT sa.id AS id_a, sa.id + 1 AS id_b,
               CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
               CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
               round(coalesce(ov.overlap, 0) / CAST(sa.n AS DOUBLE), 6) AS p,
               round(coalesce(ov.overlap, 0) / CAST(sb.n AS DOUBLE), 6) AS r,
               CASE WHEN coalesce(ov.overlap, 0) = 0 THEN 0.0
                    ELSE round(
                      2 * (ov.overlap / CAST(sa.n AS DOUBLE))
                        * (ov.overlap / CAST(sb.n AS DOUBLE))
                      / (ov.overlap / CAST(sa.n AS DOUBLE)
                         + ov.overlap / CAST(sb.n AS DOUBLE)), 6)
               END AS f1
        FROM sz sa JOIN sz sb ON sb.id = sa.id + 1
        LEFT JOIN ov ON ov.id = sa.id
        WHERE sa.id % 2 = 0
        ORDER BY id_a
    """
    d["vocabulary_growth"] = r"""
        WITH w AS (
          SELECT CAST((max(doc_id) - min(doc_id) + 10) // 10 AS BIGINT) AS wd,
                 min(doc_id) AS lo
          FROM documents
        ),
        toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        tb AS (
          SELECT CAST((doc_id - lo) // wd AS INT) AS b, count(*) AS toks
          FROM toks, w GROUP BY 1
        ),
        fo AS (SELECT tok, min(doc_id) AS fid FROM toks GROUP BY 1),
        vb AS (
          SELECT CAST((fid - lo) // wd AS INT) AS b, count(*) AS nv
          FROM fo, w GROUP BY 1
        ),
        db AS (
          SELECT CAST((doc_id - lo) // wd AS INT) AS b, count(*) AS docs
          FROM documents, w GROUP BY 1
        )
        SELECT db.b AS bucket,
               CAST(SUM(docs) OVER (ORDER BY db.b) AS BIGINT) AS docs_so_far,
               CAST(SUM(coalesce(tb.toks, 0)) OVER (ORDER BY db.b) AS BIGINT)
                 AS tokens_so_far,
               CAST(SUM(coalesce(vb.nv, 0)) OVER (ORDER BY db.b) AS BIGINT)
                 AS vocab_size
        FROM db LEFT JOIN tb USING (b) LEFT JOIN vb USING (b)
        ORDER BY bucket
    """
    d["session_entropy"] = """
        WITH c AS (
          SELECT user_id, event_type, count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        n AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1)
        SELECT c.user_id,
               CAST(max(n.n) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(SUM(CAST(round(
                 -(CAST(c.c AS DOUBLE) / n.n) * ln(CAST(c.c AS DOUBLE) / n.n),
                 6) AS DECIMAL(18,6))) AS DOUBLE) AS entropy_nats
        FROM c JOIN n USING (user_id)
        GROUP BY c.user_id ORDER BY c.user_id
    """
    d["mutual_information"] = """
        WITH cells AS (
          SELECT source AS xv, lang AS yv, count(*) AS c
          FROM documents GROUP BY 1, 2
        ),
        m AS (
          SELECT xv, yv, c,
                 SUM(c) OVER (PARTITION BY xv) AS cx,
                 SUM(c) OVER (PARTITION BY yv) AS cy,
                 SUM(c) OVER () AS n
          FROM cells
        ),
        hx AS (
          SELECT CAST(SUM(CAST(round(
                   -(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n),
                   6) AS DECIMAL(18,6))) AS DOUBLE) AS h
          FROM (SELECT DISTINCT xv, cx, n FROM m)
        ),
        hy AS (
          SELECT CAST(SUM(CAST(round(
                   -(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n),
                   6) AS DECIMAL(18,6))) AS DOUBLE) AS h
          FROM (SELECT DISTINCT yv, cy, n FROM m)
        ),
        mi AS (
          SELECT CAST(max(n) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT xv) AS BIGINT) AS n_x,
                 CAST(count(DISTINCT yv) AS BIGINT) AS n_y,
                 CAST(SUM(CAST(round(
                   (CAST(c AS DOUBLE) / n)
                   * ln(CAST(c AS DOUBLE) * n / (CAST(cx AS DOUBLE) * cy)),
                   6) AS DECIMAL(18,6))) AS DOUBLE) AS mi_nats
          FROM m
        )
        SELECT mi.n_rows, mi.n_x, mi.n_y, mi.mi_nats,
               hx.h AS h_x_nats, hy.h AS h_y_nats
        FROM mi, hx, hy
    """
    d["containment_pairs"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in range(1, len(t) - 1)])) AS shingle
          FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(c / sa.n, 6) AS c_ab,
               round(c / sb.n, 6) AS c_ba
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(c / sa.n, 6) >= 0.5 OR round(c / sb.n, 6) >= 0.5
    """
    d["rrf_fusion"] = """
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS nrm
          FROM v
        ),
        q0 AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0),
        q1 AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 1),
        s0 AS (
          SELECT vec_id, round(list_reduce(list_prepend(0.0,
                   [e[i] * q0.qe[i] for i in range(1, len(e) + 1)]),
                   (x, y) -> x + y) / (nrm * q0.qn), 6) AS score
          FROM n, q0
        ),
        s1 AS (
          SELECT vec_id, round(list_reduce(list_prepend(0.0,
                   [e[i] * q1.qe[i] for i in range(1, len(e) + 1)]),
                   (x, y) -> x + y) / (nrm * q1.qn), 6) AS score
          FROM n, q1
        ),
        r0 AS (
          SELECT vec_id, rank FROM (
            SELECT vec_id,
                   row_number() OVER (ORDER BY score DESC, vec_id) AS rank
            FROM s0) WHERE rank <= 50
        ),
        r1 AS (
          SELECT vec_id, rank FROM (
            SELECT vec_id,
                   row_number() OVER (ORDER BY score DESC, vec_id) AS rank
            FROM s1) WHERE rank <= 50
        ),
        uni AS (SELECT * FROM r0 UNION ALL SELECT * FROM r1)
        SELECT vec_id,
               CAST(sum(CAST(floor(1000000000000 / (60 + rank)) AS BIGINT))
                    AS BIGINT) AS rrf_picos,
               CAST(count(*) AS BIGINT) AS n_lists
        FROM uni GROUP BY vec_id
        ORDER BY rrf_picos DESC, vec_id LIMIT 15
    """
    # MMR oracle: the greedy argmax unrolled as one chained-CTE step per
    # pick — each step scores round(lam*rel - (1-lam)*max_sim_to_selected, 6)
    # over the not-yet-selected pool and takes the (score DESC, vec_id)
    # head, exactly the quantized argmax the Spark kernel applies.
    # (1.0 - 0.7) is spelled as the SUBTRACTION, not 0.3: IEEE 1.0-0.7 =
    # 0.30000000000000004, and the kernel computes it that way.
    _mmr_steps = []
    for t in range(2, 7):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, t)
        )
        _mmr_steps.append(f"""
        sel{t} AS (
          SELECT p.vec_id, round(0.7 * p.rel - (1.0 - 0.7) * pen.mx, 6) AS score
          FROM pool p
          JOIN (SELECT ia, max(s) AS mx FROM sims
                WHERE ib IN ({prev}) GROUP BY ia) pen
            ON pen.ia = p.vec_id
          WHERE p.vec_id NOT IN ({prev})
          ORDER BY score DESC, p.vec_id LIMIT 1
        )""")
    _mmr_final = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS pick, score AS mmr_score FROM sel{t}"
        for t in range(1, 7)
    )
    d["mmr_rerank"] = (
        """
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS nrm
          FROM v
        ),
        q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0),
        pool AS (
          SELECT vec_id,
                 round(list_reduce(list_prepend(0.0,
                   [e[i] * q.qe[i] for i in range(1, len(e) + 1)]),
                   (x, y) -> x + y) / (nrm * q.qn), 6) AS rel,
                 e, nrm
          FROM n, q WHERE vec_id != 0
          ORDER BY rel DESC, vec_id LIMIT 24
        ),
        sims AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib,
                 round(list_reduce(list_prepend(0.0,
                   [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                   (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS s
          FROM pool a, pool b
        ),
        sel1 AS (
          SELECT vec_id, round(0.7 * rel, 6) AS score FROM pool
          ORDER BY score DESC, vec_id LIMIT 1
        ),"""
        + ",".join(_mmr_steps)
        + f"""
        SELECT vec_id, CAST(pick AS INT) AS pick, mmr_score
        FROM ({_mmr_final})
    """
    )
    d["k_anonymity"] = """
        WITH classes AS (
          SELECT user_id, event_type, count(*) AS class_size
          FROM events GROUP BY 1, 2
        )
        SELECT CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS violating_classes,
               CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               CAST(min(class_size) AS BIGINT) AS achieved_k
        FROM classes
    """
    d["l_diversity"] = """
        WITH ev AS (
          SELECT user_id, event_type,
                 epoch_ms(ts) // 86400000 AS utc_day,
                 CAST(floor(value * 100) AS BIGINT) % 10 AS sens
          FROM events
        ),
        classes AS (
          SELECT user_id, event_type, utc_day,
                 count(*) AS class_size,
                 count(DISTINCT sens) AS l_distinct
          FROM ev GROUP BY 1, 2, 3
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS violating_classes,
               CAST(sum(class_size) AS BIGINT) AS rows_at_risk
        FROM classes WHERE l_distinct < 2
        GROUP BY event_type
    """
    d["seasonal_index"] = """
        WITH cells AS (
          SELECT event_type,
                 ((epoch_ms(ts) // 86400000) + 4) % 7 AS dow,
                 (epoch_ms(ts) // 3600000) % 24 AS hod,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        agg AS (
          SELECT event_type, dow, hod,
                 sum(cents) AS cell_sum, count(*) AS cell_cnt
          FROM cells GROUP BY 1, 2, 3
        ),
        tot AS (
          SELECT event_type, sum(cell_sum) AS grp_sum, sum(cell_cnt) AS grp_cnt
          FROM agg GROUP BY 1
        )
        SELECT a.event_type, a.dow, a.hod,
               CAST(a.cell_cnt AS BIGINT) AS cell_cnt,
               CAST((CAST(a.cell_sum AS HUGEINT) * CAST(t.grp_cnt AS HUGEINT)
                     * 1000000)
                    // (CAST(a.cell_cnt AS HUGEINT) * CAST(t.grp_sum AS HUGEINT))
                    AS BIGINT) AS index_ppm
        FROM agg a JOIN tot t USING (event_type)
    """
    d["time_decay"] = """
        WITH mx AS (SELECT max(epoch_ms(ts) // 86400000) AS mx_day FROM events),
        aged AS (
          SELECT user_id,
                 mx.mx_day - (epoch_ms(ts) // 86400000) AS age_days,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events, mx
        )
        SELECT user_id,
               CAST(CAST(sum(CASE WHEN age_days BETWEEN 0 AND 40
                        THEN CAST(cents AS HUGEINT)
                             * CAST(pow(2.0, 40 - age_days) AS HUGEINT)
                        ELSE 0 END) AS DECIMAL(38,0)) AS VARCHAR)
                 AS decayed_cents_x2h
        FROM aged GROUP BY user_id
    """
    _zbits = " + ".join(
        f"((xb >> {i}) & 1) * {1 << (2 * i)} + ((yb >> {i}) & 1) * {1 << (2 * i + 1)}"
        for i in range(8)
    )
    d["zorder_layout"] = f"""
        WITH b AS (
          SELECT GREATEST(0, LEAST(255,
                   CAST(floor(CAST(user_id AS DOUBLE) * 256 / 2000.0)
                        AS BIGINT))) AS xb,
                 GREATEST(0, LEAST(255,
                   CAST(floor(CAST(floor(value * 100) AS DOUBLE) * 256
                              / 60000.0) AS BIGINT))) AS yb
          FROM events
        ),
        z AS (SELECT xb, yb, {_zbits} AS zv FROM b)
        SELECT LEAST(15, CAST(floor(zv * 16 / 65536) AS BIGINT)) AS shard,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(xb) AS x_min, max(xb) AS x_max,
               min(yb) AS y_min, max(yb) AS y_max
        FROM z GROUP BY 1
    """
    d["cdc_merge"] = """
        WITH o AS (
          SELECT o_orderkey AS id, o_custkey AS cust,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                 o_orderstatus AS status
          FROM orders
        ),
        log AS (
          SELECT id, cust, cents + 100000 AS cents, status,
                 'upsert' AS op, 1 AS seq FROM o WHERE id % 10 = 3
          UNION ALL
          SELECT id, cust, cents, status, 'delete', 2 FROM o WHERE id % 20 = 3
          UNION ALL
          SELECT id, cust, cents * 2, status, 'upsert', 2 FROM o WHERE id % 10 = 7
          UNION ALL
          SELECT id + 10000000, cust, cents, 'N', 'upsert', 3
          FROM o WHERE id % 1000 = 1
        ),
        net AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
                      PARTITION BY id ORDER BY seq DESC, op DESC) AS rn
            FROM log) WHERE rn = 1
        ),
        merged AS (
          SELECT id, cust, cents, status FROM o
          WHERE id NOT IN (SELECT id FROM net)
          UNION ALL
          SELECT id, cust, cents, status FROM net WHERE op = 'upsert'
        )
        SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(sum(id) AS BIGINT) AS id_checksum
        FROM merged GROUP BY status
    """
    d["psi_drift"] = """
        WITH days AS (
          SELECT epoch_ms(ts) // 86400000 AS day,
                 GREATEST(0, LEAST(11,
                   CAST(floor(CAST(floor(value * 100) AS BIGINT)
                              / 5000) AS BIGINT))) AS bucket
          FROM events
        ),
        b AS (SELECT min(day) AS d0, max(day) AS d1 FROM days),
        halves AS (
          SELECT bucket,
                 CASE WHEN day < (d0 + d1 + 1) / 2 THEN 'a' ELSE 'b' END AS half
          FROM days, b
        ),
        cells AS (
          SELECT bucket,
                 sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS n_a,
                 sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS n_b
          FROM halves GROUP BY 1
        ),
        tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM cells)
        SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               round(((n_a + 1) / (ta + 12) - (n_b + 1) / (tb + 12))
                     * ln(((n_a + 1) / (ta + 12)) / ((n_b + 1) / (tb + 12))),
                     6) AS psi_term
        FROM cells, tot
    """
    d["span_corruption"] = r"""
        WITH t AS (
          SELECT doc_id,
                 len(regexp_split_to_array(trim(text), '\s+')) AS n
          FROM documents
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(floor(n / 20) + CASE WHEN n % 20 > 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS n_spans,
               CAST(floor(n / 20) * 3 + LEAST(n % 20, 3) AS BIGINT) AS n_masked,
               CAST(n - (floor(n / 20) * 3 + LEAST(n % 20, 3))
                    + floor(n / 20) + CASE WHEN n % 20 > 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS inputs_len,
               CAST(CASE WHEN n > 0
                    THEN floor(n / 20) * 3 + LEAST(n % 20, 3) + floor(n / 20)
                         + CASE WHEN n % 20 > 0 THEN 1 ELSE 0 END + 1
                    ELSE 0 END AS BIGINT) AS targets_len
        FROM t
    """
    d["ann_recall"] = f"""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        planes AS (SELECT * FROM (VALUES {_plane_vals}) AS t(bi, p)),
        sg AS (
          SELECT v.vec_id,
                 CAST(SUM(CASE WHEN list_reduce(list_prepend(0.0,
                         [v.e[i] * p[i] for i in range(1, len(v.e) + 1)]),
                         (x, y) -> x + y) >= 0
                     THEN 1 << bi ELSE 0 END) AS BIGINT) AS sig
          FROM v, planes GROUP BY v.vec_id
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (x, y) -> x + y)) AS nrm
          FROM v
        ),
        base AS (SELECT n.vec_id, e, nrm, sig FROM n JOIN sg USING (vec_id)),
        q AS (
          SELECT vec_id AS qid, e AS qe, nrm AS qnrm, sig AS qsig
          FROM base WHERE vec_id < 10
        ),
        c AS (SELECT * FROM base WHERE vec_id >= 10),
        scored AS (
          SELECT q.qid, c.vec_id AS id,
                 round(list_reduce(list_prepend(0.0,
                         [c.e[i] * q.qe[i] for i in range(1, len(c.e) + 1)]),
                         (x, y) -> x + y) / (c.nrm * q.qnrm), 6) AS cos,
                 c.sig, q.qsig
          FROM c, q
        ),
        exact AS (
          SELECT qid, id FROM (
            SELECT qid, id, row_number() OVER (
                     PARTITION BY qid ORDER BY cos DESC, id) AS rk
            FROM scored) WHERE rk <= 10
        ),
        cand AS (SELECT * FROM scored WHERE sig = qsig),
        lsh AS (
          SELECT qid, id FROM (
            SELECT qid, id, row_number() OVER (
                     PARTITION BY qid ORDER BY cos DESC, id) AS rk
            FROM cand) WHERE rk <= 10
        ),
        nc AS (SELECT qid, count(*) AS n_candidates FROM cand GROUP BY 1),
        h AS (
          SELECT e.qid, count(*) AS n_hits
          FROM exact e JOIN lsh ON lsh.qid = e.qid AND lsh.id = e.id
          GROUP BY 1
        )
        SELECT q.qid AS query_id,
               CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               coalesce(h.n_hits, 0) / 10.0 AS recall_at_k
        FROM q LEFT JOIN nc ON nc.qid = q.qid LEFT JOIN h ON h.qid = q.qid
    """
    d["knn_label_eval"] = """
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS nrm
          FROM v
        ),
        p AS (
          SELECT a.vec_id AS id, b.vec_id AS nbr,
                 round(list_reduce(list_prepend(0.0,
                         [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                         (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cos_sim
          FROM n a JOIN n b ON a.vec_id != b.vec_id
        ),
        g AS (
          SELECT id, nbr FROM (
            SELECT id, nbr, row_number() OVER (
                     PARTITION BY id ORDER BY cos_sim DESC, nbr) AS rank
            FROM p) WHERE rank <= 5
        ),
        votes AS (
          SELECT g.id, e.label AS nbr_label, count(*) AS votes
          FROM g JOIN embeddings e ON e.vec_id = g.nbr GROUP BY 1, 2
        ),
        picked AS (
          SELECT id, nbr_label AS predicted FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY id ORDER BY votes DESC, nbr_label ASC) AS rn
            FROM votes) WHERE rn = 1
        )
        SELECT t.label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN p.predicted = t.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
               CAST(sum(CASE WHEN p.predicted = t.label THEN 1 ELSE 0 END)
                    AS BIGINT) / CAST(count(*) AS BIGINT) AS accuracy
        FROM picked p JOIN embeddings t ON t.vec_id = p.id
        GROUP BY t.label
    """
    d["lateness_report"] = """
        WITH l AS (
          SELECT greatest(0, coalesce(
                   max(epoch_ms(ts)) OVER (
                     PARTITION BY user_id
                     ORDER BY (event_id * 2654435761) % 4294967296
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - epoch_ms(ts), 0)) AS late_ms
          FROM events
        )
        SELECT CASE WHEN late_ms = 0 THEN '0_in_order'
                    WHEN late_ms <= 60000 THEN '1_le_1min'
                    WHEN late_ms <= 3600000 THEN '2_le_1hour'
                    WHEN late_ms <= 86400000 THEN '3_le_1day'
                    ELSE '4_gt_1day' END AS lateness_bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(late_ms) AS BIGINT) AS max_late_ms
        FROM l GROUP BY 1
    """
    d["multi_touch"] = """
        WITH conv AS (
          SELECT user_id AS u, event_id AS conv_id, epoch_ms(ts) AS conv_ts,
                 CAST(floor(value * 100) AS BIGINT) AS conv_cents
          FROM events WHERE event_type = 'purchase'
        ),
        touch AS (
          SELECT user_id AS u, event_type AS touch_type, epoch_ms(ts) AS touch_ts
          FROM events WHERE event_type IN ('click', 'view')
        ),
        pairs AS (
          SELECT c.conv_id, c.conv_cents, t.touch_type
          FROM conv c JOIN touch t
            ON t.u = c.u AND t.touch_ts < c.conv_ts
           AND t.touch_ts >= c.conv_ts - 604800000
        ),
        pc AS (SELECT conv_id, count(*) AS n FROM pairs GROUP BY 1),
        cr AS (
          SELECT p.touch_type,
                 1000000 // pc.n AS credit_ppm,
                 p.conv_cents // pc.n AS cents_share
          FROM pairs p JOIN pc USING (conv_id)
        )
        SELECT touch_type,
               CAST(count(*) AS BIGINT) AS n_credits,
               CAST(sum(credit_ppm) AS BIGINT) AS conversions_ppm,
               CAST(sum(cents_share) AS BIGINT) AS revenue_cents
        FROM cr GROUP BY 1
    """
    d["rfm_scores"] = """
        WITH pu AS (
          SELECT user_id,
                 max(epoch_ms(ts) // 86400000) AS last_day,
                 count(*) AS frequency,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
          FROM events GROUP BY 1
        ),
        b AS (SELECT max(last_day) AS now_day FROM pu),
        base AS (
          SELECT pu.*, b.now_day - pu.last_day AS recency_days FROM pu, b
        ),
        q AS (
          SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS qr,
                 quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS qf,
                 quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS qm
          FROM base
        ),
        scored AS (
          SELECT base.*,
                 6 - (CASE WHEN recency_days <= qr[1] THEN 1
                           WHEN recency_days <= qr[2] THEN 2
                           WHEN recency_days <= qr[3] THEN 3
                           WHEN recency_days <= qr[4] THEN 4
                           ELSE 5 END) AS r_score,
                 CASE WHEN frequency <= qf[1] THEN 1
                      WHEN frequency <= qf[2] THEN 2
                      WHEN frequency <= qf[3] THEN 3
                      WHEN frequency <= qf[4] THEN 4
                      ELSE 5 END AS f_score,
                 CASE WHEN monetary_cents <= qm[1] THEN 1
                      WHEN monetary_cents <= qm[2] THEN 2
                      WHEN monetary_cents <= qm[3] THEN 3
                      WHEN monetary_cents <= qm[4] THEN 4
                      ELSE 5 END AS m_score
          FROM base, q
        )
        SELECT user_id,
               CAST(recency_days AS BIGINT) AS recency_days,
               CAST(frequency AS BIGINT) AS frequency,
               monetary_cents,
               CAST(r_score AS INT) AS r_score,
               CAST(f_score AS INT) AS f_score,
               CAST(m_score AS INT) AS m_score,
               CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                 || CAST(m_score AS VARCHAR) AS segment
        FROM scored
    """
    d["split_leakage"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in range(1, len(t) - 1)])) AS shingle
          FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        rare AS (
          SELECT sh.doc_id, sh.shingle FROM sh
          JOIN dfc USING (shingle) WHERE dfc.df <= 100
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM rare a JOIN rare b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        common AS (
          SELECT c.id_a, c.id_b, count(*) AS c
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
          GROUP BY 1, 2
        ),
        j AS (
          SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 6) AS jaccard
          FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(c / (sa.n + sb.n - c), 6) >= 0.6
        ),
        sp AS (
          SELECT doc_id,
                 CASE WHEN (doc_id * 2654435761) % 1000 < 200
                      THEN 'test' ELSE 'train' END AS split
          FROM documents
        ),
        lab AS (
          SELECT j.jaccard, sa.split AS split_a, sb.split AS split_b
          FROM j
          JOIN sp sa ON sa.doc_id = j.id_a
          JOIN sp sb ON sb.doc_id = j.id_b
        )
        SELECT least(split_a, split_b) AS cell_lo,
               greatest(split_a, split_b) AS cell_hi,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CAST(floor(jaccard * 1000000) AS BIGINT)) AS BIGINT)
                 AS jaccard_ppm_sum
        FROM lab GROUP BY 1, 2
    """
    d["pit_features"] = """
        WITH labels AS (
          SELECT user_id AS u, event_id AS example_id, epoch_ms(ts) AS label_ts
          FROM events WHERE event_type = 'purchase'
        ),
        hist AS (
          SELECT user_id AS u, event_type AS etype, epoch_ms(ts) AS ev_ts,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        j AS (
          SELECT l.u, l.example_id, l.label_ts, h.etype, h.ev_ts, h.cents
          FROM labels l JOIN hist h
            ON h.u = l.u AND h.ev_ts < l.label_ts
           AND h.ev_ts >= l.label_ts - 604800000
        ),
        f AS (
          SELECT u, example_id, label_ts,
                 count(*) AS n_events_7d,
                 count(DISTINCT etype) AS n_types_7d,
                 sum(cents) AS cents_7d,
                 max(ev_ts) AS last_ts
          FROM j GROUP BY 1, 2, 3
        )
        SELECT l.u AS user_id, l.example_id, l.label_ts,
               CAST(coalesce(f.n_events_7d, 0) AS BIGINT) AS n_events_7d,
               CAST(coalesce(f.n_types_7d, 0) AS BIGINT) AS n_types_7d,
               CAST(coalesce(f.cents_7d, 0) AS BIGINT) AS cents_7d,
               CAST(l.label_ts - f.last_ts AS BIGINT) AS recency_ms
        FROM labels l
        LEFT JOIN f ON f.u = l.u AND f.example_id = l.example_id
    """
    d["phrase_search"] = r"""
        WITH n AS (
          SELECT doc_id,
                 array_to_string(
                   regexp_split_to_array(lower(trim(text)), '\s+'), ' ') AS nt
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(nt, 'table value')) AS INT)
                 AS n_occurrences,
               CAST(CASE WHEN instr(nt, 'table value') = 1 THEN 0
                    ELSE len(regexp_split_to_array(
                           trim(substr(nt, 1, instr(nt, 'table value') - 1)),
                           '\s+')) END AS INT) AS first_token_offset
        FROM n WHERE contains(nt, 'table value')
    """
    d["eval_coverage"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in range(1, len(t) - 1)])) AS shingle
          FROM toks
        ),
        cg AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 != 0),
        eg AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 50 = 0),
        t AS (SELECT eval_id, count(*) AS n_grams FROM eg GROUP BY 1),
        h AS (
          SELECT eval_id, count(*) AS n_covered FROM eg
          WHERE shingle IN (SELECT shingle FROM cg) GROUP BY 1
        )
        SELECT t.eval_id,
               CAST(t.n_grams AS BIGINT) AS n_grams,
               CAST(coalesce(h.n_covered, 0) AS BIGINT) AS n_covered,
               round(coalesce(h.n_covered, 0) / t.n_grams, 6) AS coverage
        FROM t LEFT JOIN h USING (eval_id)
    """
    d["link_negatives"] = """
        WITH nn AS (SELECT max(vec_id) + 1 AS n FROM embeddings),
        v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
          FROM embeddings
        ),
        nrm AS (
          SELECT vec_id, e,
                 sqrt(list_reduce(list_prepend(0.0, [x * x for x in e]),
                                  (a, b) -> a + b)) AS m
          FROM v
        ),
        cents AS (
          SELECT e AS ce, m AS cm,
                 CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
          FROM nrm WHERE vec_id % 200 = 0
        ),
        asg AS (
          -- top-2 cells per vector: cell_knn's nprobe=2 multi-probe
          -- default (r9 — nprobe=1 measured 44.7% edge recall at
          -- sf0.01, below the 95% bar)
          SELECT vec_id, cell FROM (
            SELECT a.vec_id, c.cell,
                   row_number() OVER (PARTITION BY a.vec_id ORDER BY
                     round(list_reduce(list_prepend(0.0,
                       [a.e[i] * c.ce[i] for i in range(1, len(a.e) + 1)]),
                       (x, y) -> x + y) / (a.m * c.cm), 6) DESC, c.cell ASC) AS rk
            FROM nrm a CROSS JOIN cents c) WHERE rk <= 2
        ),
        av AS (
          SELECT n.vec_id, n.e, n.m, s.cell
          FROM nrm n JOIN asg s ON n.vec_id = s.vec_id
        ),
        p AS (
          -- DISTINCT: a pair sharing both probed cells surfaces twice
          -- with the identical round-6 score; the engine dedupes
          -- candidates before the rank window
          SELECT DISTINCT a.vec_id AS anchor, b.vec_id AS other,
                 round(list_reduce(list_prepend(0.0,
                         [a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]),
                         (x, y) -> x + y) / (a.m * b.m), 6) AS cos_sim
          FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id != b.vec_id
        ),
        pos AS (
          SELECT anchor, other FROM (
            SELECT anchor, other, row_number() OVER (
                     PARTITION BY anchor ORDER BY cos_sim DESC, other) AS rk
            FROM p) WHERE rk <= 3
        ),
        slots AS (
          SELECT vec_id AS anchor, s
          FROM embeddings, (VALUES (0), (1), (2)) AS t(s)
        ),
        neg0 AS (
          SELECT DISTINCT anchor,
                 (((anchor * 31 + s + 1) % n) * (2654435761 % n)) % n AS other
          FROM slots, nn
        ),
        neg AS (
          SELECT n0.anchor, n0.other FROM neg0 n0
          WHERE n0.other != n0.anchor
            AND NOT EXISTS (SELECT 1 FROM pos p
                            WHERE p.anchor = n0.anchor AND p.other = n0.other)
        )
        SELECT anchor, other, CAST(1 AS INT) AS label FROM pos
        UNION ALL
        SELECT anchor, other, CAST(0 AS INT) AS label FROM neg
    """
    # bloom_prune_join: the bloom filter is a pure pre-filter (no false
    # negatives; false positives die in the exact join), so the oracle
    # is the PLAIN join — result equality IS the recall proof.
    d["bloom_prune_join"] = """
        SELECT s_nationkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_nationkey < 3
        GROUP BY s_nationkey
    """
    # record_linkage: the oracle replays the UNBLOCKED nation join with
    # the same literal CASE weights (the m/u model parameters
    # repr()-interpolated, bit-identical doubles) and keeps only the
    # match cut — equality with Spark's (nation, segment, band)-blocked
    # plan proves the composite blocking LOSSLESS for the match set.
    _w = _FS_WEIGHTS
    _fs_score_sql = f"""round(
                        CASE WHEN a.c_mktsegment = b.c_mktsegment
                             THEN CAST({_w['segment'][0]!r} AS DOUBLE)
                             ELSE CAST({_w['segment'][1]!r} AS DOUBLE) END
                      + CASE WHEN abs(floor(a.c_acctbal) - floor(b.c_acctbal)) <= 100
                             THEN CAST({_w['bal_band'][0]!r} AS DOUBLE)
                             ELSE CAST({_w['bal_band'][1]!r} AS DOUBLE) END
                      + CASE WHEN (a.c_acctbal >= 0) = (b.c_acctbal >= 0)
                             THEN CAST({_w['bal_sign'][0]!r} AS DOUBLE)
                             ELSE CAST({_w['bal_sign'][1]!r} AS DOUBLE) END,
                      6)"""
    d["record_linkage"] = f"""
        WITH a AS (SELECT * FROM customer WHERE c_custkey % 2 = 0),
             b AS (SELECT * FROM customer WHERE c_custkey % 2 = 1),
             scored AS (
               SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                      a.c_mktsegment = b.c_mktsegment AS agree_segment,
                      abs(floor(a.c_acctbal) - floor(b.c_acctbal)) <= 100 AS agree_bal_band,
                      (a.c_acctbal >= 0) = (b.c_acctbal >= 0) AS agree_bal_sign,
                      {_fs_score_sql} AS score
               FROM a JOIN b ON a.c_nationkey = b.c_nationkey
             )
        SELECT id_a, id_b, agree_segment, agree_bal_band, agree_bal_sign, score,
               'match' AS decision
        FROM scored WHERE score >= 2.0
    """
    # linkage_decisions: bounded-input decision distribution — the
    # same literal weights over the 500 smallest keys per side, then
    # exact order-free tallies per decision.
    d["linkage_decisions"] = f"""
        WITH a AS (SELECT * FROM customer WHERE c_custkey % 2 = 0
                   ORDER BY c_custkey LIMIT 500),
             b AS (SELECT * FROM customer WHERE c_custkey % 2 = 1
                   ORDER BY c_custkey LIMIT 500),
             scored AS (
               SELECT a.c_mktsegment = b.c_mktsegment AS agree_segment,
                      abs(floor(a.c_acctbal) - floor(b.c_acctbal)) <= 100 AS agree_bal_band,
                      (a.c_acctbal >= 0) = (b.c_acctbal >= 0) AS agree_bal_sign,
                      {_fs_score_sql} AS score
               FROM a JOIN b ON a.c_nationkey = b.c_nationkey
             )
        SELECT CASE WHEN score >= 2.0 THEN 'match'
                    WHEN score <= 0.0 THEN 'nonmatch'
                    ELSE 'possible' END AS decision,
               count(*) AS n_pairs,
               CAST(SUM(CAST(agree_segment AS INT)) AS BIGINT) AS n_agree_segment,
               CAST(SUM(CAST(agree_bal_band AS INT)) AS BIGINT) AS n_agree_bal_band,
               CAST(SUM(CAST(agree_bal_sign AS INT)) AS BIGINT) AS n_agree_bal_sign,
               CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE) AS sum_score
        FROM scored
        GROUP BY 1
    """
    # corpus_version_diff: replay the prefix-family key, both keep_best
    # winner windows (quality = raw length, id tie-break), and the
    # membership CASEs that name each change's reason.
    d["corpus_version_diff"] = """
        WITH norm AS (
          SELECT doc_id, length(text) AS q,
                 array_to_string(
                   (regexp_split_to_array(
                      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
                   )[1:8], ' ') AS key
          FROM documents
        ),
        old_n AS (SELECT * FROM norm WHERE doc_id % 10 != 7),
        new_n AS (SELECT * FROM norm WHERE doc_id % 20 != 6),
        sa AS (
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (
              PARTITION BY key ORDER BY q DESC, doc_id ASC) AS rn
            FROM old_n) WHERE rn = 1
        ),
        sb AS (
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (
              PARTITION BY key ORDER BY q DESC, doc_id ASC) AS rn
            FROM new_n) WHERE rn = 1
        ),
        entered AS (
          SELECT b.doc_id, 'entered' AS change,
                 CASE WHEN o.doc_id IS NOT NULL THEN 'promoted'
                      ELSE 'added' END AS reason
          FROM sb b
          LEFT JOIN sa a ON a.doc_id = b.doc_id
          LEFT JOIN old_n o ON o.doc_id = b.doc_id
          WHERE a.doc_id IS NULL
        ),
        gone AS (
          SELECT a.doc_id, 'left' AS change,
                 CASE WHEN nn.doc_id IS NOT NULL THEN 'displaced'
                      ELSE 'removed' END AS reason
          FROM sa a
          LEFT JOIN sb b ON b.doc_id = a.doc_id
          LEFT JOIN new_n nn ON nn.doc_id = a.doc_id
          WHERE b.doc_id IS NULL
        )
        SELECT doc_id, change, reason FROM entered
        UNION ALL
        SELECT doc_id, change, reason FROM gone
    """
    # curation_pipeline: the four stages as one WITH chain — quality
    # (corpus_curation's replay), prefix-family keep_best ranked by
    # that quality, the trigram contamination scan restricted to the
    # survivors, and the temperature mixture over the cleaned set.
    d["curation_pipeline"] = """
        WITH f AS (
          SELECT doc_id, source, text, n_chars,
                 regexp_split_to_array(trim(text), '\\s+') AS toks,
                 len(regexp_extract_all(text, '[^\\w\\s]'))
                   / GREATEST(length(text), 1) AS praw
          FROM documents WHERE doc_id % 50 != 0
        ),
        g AS (
          SELECT doc_id, source, n_chars, text, toks, praw,
                 len(list_filter(list_transform(toks, t -> lower(t)),
                     t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                'for','on','with','as','at','by','from','that','this')))
                   / GREATEST(len(toks), 1) AS sraw,
                 list_reduce(list_prepend(0, [length(t) for t in toks]), (a,b) -> a + b)
                   / GREATEST(len(toks), 1) AS mwl,
                 LEAST(length(text) / 200.0, 1.0) AS length_ok
          FROM f
        ),
        q AS (
          SELECT doc_id, source, n_chars, text,
                 round((length_ok + (1.0 - LEAST(praw * 5.0, 1.0))
                        + LEAST(sraw * 4.0, 1.0)
                        + CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END) / 4.0, 6)
                   AS quality
          FROM g
        ),
        scored AS (SELECT * FROM q WHERE quality >= 0.5),
        keyed AS (
          SELECT *, array_to_string(
                   (regexp_split_to_array(
                      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
                   )[1:8], ' ') AS key
          FROM scored
        ),
        kept AS (
          SELECT doc_id, source, n_chars, text FROM (
            SELECT *, row_number() OVER (
              PARTITION BY key ORDER BY quality DESC, doc_id ASC) AS rn
            FROM keyed) WHERE rn = 1
        ),
        toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in range(1, len(t) - 1)])) AS shingle
          FROM toks
        ),
        ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 = 0),
        evn AS (SELECT doc_id, count(*) AS n_eval FROM ev GROUP BY 1),
        tr AS (
          SELECT sh.doc_id, sh.shingle FROM sh
          JOIN kept k ON k.doc_id = sh.doc_id
        ),
        hits AS (
          SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, count(*) AS n_common
          FROM tr JOIN ev ON tr.shingle = ev.shingle
          GROUP BY 1, 2
        ),
        bad AS (
          SELECT DISTINCT train_id FROM hits
          JOIN evn ON evn.doc_id = eval_id
          WHERE round(n_common / evn.n_eval, 6) >= 0.05
        ),
        clean AS (
          SELECT * FROM kept WHERE doc_id NOT IN (SELECT train_id FROM bad)
        ),
        sizes AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS size
          FROM clean GROUP BY 1
        ),
        powed AS (SELECT *, pow(size, 1.0 / 3.333333) AS p FROM sizes),
        tot AS (SELECT sum(size) AS tot_size, sum(p) AS tot_p FROM powed)
        SELECT source, n_docs, size,
               round(size / tot_size, 6) AS natural_share,
               round(p / tot_p, 6) AS rate,
               round(10000000 * (round(p / tot_p, 6) / size), 6) AS epochs
        FROM powed, tot ORDER BY source
    """
    # classifier_auc: the calibration probe's (p, y), then the
    # Mann-Whitney grid — integer-exact numerator (wins doubled +
    # ties), one final division.
    d["classifier_auc"] = """
        WITH toks AS (
          SELECT regexp_split_to_array(trim(text), '\\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        scored AS (
          SELECT round(len(list_filter(t, x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in'], x)))
                       / CAST(len(t) AS DOUBLE), 9) AS p,
                 CAST(len(list_filter(t, x -> x = 'the')) >= 2 AS INT) AS y
          FROM toks WHERE len(t) > 0
        ),
        per AS (
          SELECT p AS s, CAST(sum(y) AS BIGINT) AS np,
                 CAST(sum(1 - y) AS BIGINT) AS nn
          FROM scored GROUP BY 1
        ),
        c AS (
          SELECT np, nn,
                 coalesce(sum(nn) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
          FROM per
        )
        SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nn) AS BIGINT) AS n_neg,
               round(sum(2 * np * cum_neg + np * nn)
                     / CAST(2 * sum(np) * sum(nn) AS DOUBLE), 6) AS auc
        FROM c
    """
    # t_closeness: replay the 9-dp DECIMAL distribution arithmetic —
    # global fractions, per-class fractions, and the closed-form TVD
    # fold over absent values.
    d["t_closeness"] = """
        WITH ev AS (
          SELECT event_type,
                 epoch_ms(ts) // 86400000 AS utc_day,
                 CAST(floor(value * 100) AS BIGINT) % 10 AS sens
          FROM events
        ),
        tot AS (SELECT count(*) AS n FROM ev),
        gdist AS (
          SELECT sens, CAST(round(count(*) / (SELECT CAST(n AS DOUBLE) FROM tot), 9)
                            AS DECIMAL(19,9)) AS p
          FROM ev GROUP BY 1
        ),
        cls AS (
          SELECT event_type, utc_day, sens, count(*) AS cc
          FROM ev GROUP BY 1, 2, 3
        ),
        sized AS (
          SELECT *, sum(cc) OVER (PARTITION BY event_type, utc_day) AS class_size
          FROM cls
        ),
        q AS (
          SELECT s.*, CAST(round(cc / CAST(class_size AS DOUBLE), 9)
                           AS DECIMAL(19,9)) AS qf, g.p
          FROM sized s JOIN gdist g USING (sens)
        ),
        per_class AS (
          SELECT event_type, utc_day,
                 max(class_size) AS class_size,
                 sum(abs(qf - p)) AS s1,
                 sum(p) AS s2
          FROM q GROUP BY 1, 2
        ),
        viol AS (
          SELECT event_type, class_size,
                 round(CAST(s1 + CAST(1 AS DECIMAL(19,9)) - s2 AS DOUBLE) / 2, 6)
                   AS t_distance
          FROM per_class
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS violating_classes,
               CAST(sum(class_size) AS BIGINT) AS rows_at_risk,
               max(t_distance) AS max_t_distance
        FROM viol WHERE t_distance > 0.25
        GROUP BY 1
    """
    # bootstrap_ci: replay the Knuth-hash uniforms, the literal
    # Poisson(1) inverse-CDF weights, the replicate means, and the
    # percentile ranks.
    from nnanalytics_spark.pipeline.stats import (
        _BOOT_MOD,
        _BOOT_MULT,
        _POISSON1_CDF,
    )

    _w_case = "CASE " + " ".join(
        f"WHEN u < {c!r} THEN {i}" for i, c in enumerate(_POISSON1_CDF)
    ) + f" ELSE {len(_POISSON1_CDF)} END"
    d["bootstrap_ci"] = f"""
        WITH b AS (SELECT unnest(range(100)) AS rep),
        drawn AS (
          SELECT rep,
                 (((o_orderkey * 100 + rep + 1) * {_BOOT_MULT})
                   % {_BOOT_MOD}) / CAST({_BOOT_MOD} AS DOUBLE) AS u,
                 CAST(round(o_totalprice, 9) AS DECIMAL(18,9)) AS v
          FROM orders CROSS JOIN b
        ),
        weighted AS (SELECT rep, {_w_case} AS w, v FROM drawn),
        reps AS (
          SELECT rep, round(CAST(sum(w * v) AS DOUBLE) / sum(w), 9) AS m
          FROM weighted GROUP BY 1
        ),
        ranked AS (
          SELECT m, row_number() OVER (ORDER BY m, rep) AS rk FROM reps
        ),
        base AS (
          SELECT count(*) AS n,
                 round(CAST(SUM(CAST(round(o_totalprice, 9) AS DECIMAL(18,9)))
                            AS DOUBLE) / count(*), 6) AS mean
          FROM orders
        )
        SELECT n, mean,
               (SELECT round(m, 6) FROM ranked WHERE rk = 3) AS ci_lo,
               (SELECT round(m, 6) FROM ranked WHERE rk = 98) AS ci_hi,
               CAST(100 AS INT) AS replicates
        FROM base
    """
    # cuped: per-user DECIMAL sums for the odd/even-day split, one
    # moment aggregate, the closed-form theta / variance identities.
    d["cuped"] = """
        WITH ev AS (
          SELECT user_id, epoch_ms(ts) // 86400000 AS day, value FROM events
        ),
        pu AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN day % 2 = 1
                               THEN CAST(round(value, 9) AS DECIMAL(18,9))
                               ELSE CAST(0 AS DECIMAL(18,9)) END)
                      AS DECIMAL(18,9)) AS y,
                 CAST(SUM(CASE WHEN day % 2 = 0
                               THEN CAST(round(value, 9) AS DECIMAL(18,9))
                               ELSE CAST(0 AS DECIMAL(18,9)) END)
                      AS DECIMAL(18,9)) AS x
          FROM ev GROUP BY 1
        ),
        m AS (
          SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
          FROM pu
        )
        SELECT CAST(n AS BIGINT) AS n_units,
               round((CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))
                     / (CAST(sxx AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sx AS DOUBLE)/n)), 6) AS theta,
               round(CAST(syy AS DOUBLE)/n - (CAST(sy AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n), 6) AS var_y,
               round((CAST(syy AS DOUBLE)/n - (CAST(sy AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))
                     - (CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))
                       * (CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))
                       / (CAST(sxx AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sx AS DOUBLE)/n)), 6) AS var_adjusted,
               round(1 - ((CAST(syy AS DOUBLE)/n - (CAST(sy AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))
                     - (CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))
                       * (CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n))
                       / (CAST(sxx AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sx AS DOUBLE)/n)))
                     / (CAST(syy AS DOUBLE)/n - (CAST(sy AS DOUBLE)/n)*(CAST(sy AS DOUBLE)/n)), 6) AS variance_reduction
        FROM m
    """
    # rake_keywords: replay tokenization, the stopword-prefix phrase
    # grouping (zipped parallel unnests give positions), word
    # degree/frequency, and the DECIMAL phrase sums.
    d["rake_keywords"] = """
        WITH base AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
          FROM documents WHERE length(trim(text)) > 0
        ),
        toks AS (
          SELECT doc_id, unnest(arr) AS tok,
                 unnest(range(1, len(arr) + 1)) AS pos
          FROM base
        ),
        grouped AS (
          SELECT doc_id, tok, pos,
                 sum(CASE WHEN tok IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it', 'for', 'on', 'with', 'as', 'at', 'by', 'from', 'that', 'this') THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS grp
          FROM toks
        ),
        words AS (
          SELECT doc_id, grp, pos, tok FROM grouped
          WHERE tok NOT IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it', 'for', 'on', 'with', 'as', 'at', 'by', 'from', 'that', 'this')
        ),
        phrases AS (
          SELECT doc_id, grp,
                 array_to_string(list(tok ORDER BY pos), ' ') AS phrase,
                 count(*) AS plen
          FROM words GROUP BY 1, 2
        ),
        occ AS (
          SELECT w.tok, p.plen
          FROM words w JOIN phrases p USING (doc_id, grp)
        ),
        wscore AS (
          SELECT tok,
                 CAST(round(sum(plen) / CAST(count(*) AS DOUBLE), 9)
                      AS DECIMAL(18,9)) AS wscore
          FROM occ GROUP BY 1
        ),
        pscore AS (
          SELECT w.doc_id, w.grp, sum(s.wscore) AS ps
          FROM words w JOIN wscore s USING (tok)
          GROUP BY 1, 2
        ),
        ranked AS (
          SELECT p.phrase,
                 count(*) AS n_occurrences,
                 CAST(max(p.plen) AS BIGINT) AS n_words,
                 round(CAST(max(ps) AS DOUBLE), 6) AS score
          FROM phrases p JOIN pscore USING (doc_id, grp)
          GROUP BY 1
        )
        SELECT phrase, n_occurrences, n_words, score
        FROM ranked ORDER BY score DESC, phrase LIMIT 20
    """
    # conformal_threshold: replay the calibration-split means, the
    # round-9 scores, the distinct-score cumulative rank, and the
    # held-out coverage.
    d["conformal_threshold"] = """
        WITH ev AS (
          SELECT event_type, value, event_id % 5 != 0 AS cal FROM events
        ),
        cm AS (
          SELECT event_type,
                 round(CAST(SUM(CAST(round(value, 9) AS DECIMAL(18,9)))
                            AS DOUBLE) / count(*), 9) AS m
          FROM ev WHERE cal GROUP BY 1
        ),
        scored AS (
          SELECT round(abs(value - m), 9) AS s, CAST(cal AS INT) AS c
          FROM ev JOIN cm USING (event_type)
        ),
        per AS (
          SELECT s, sum(c) AS nc, sum(1 - c) AS nt FROM scored GROUP BY 1
        ),
        cum AS (
          SELECT *, sum(nc) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum_cal
          FROM per
        ),
        tot AS (
          SELECT CAST(sum(nc) AS BIGINT) AS n_cal,
                 CAST(sum(nt) AS BIGINT) AS n_test
          FROM per
        ),
        q AS (
          SELECT min(s) AS q_hat FROM cum, tot
          WHERE cum_cal >= least(CAST(ceil((n_cal + 1) * 0.9) AS BIGINT), n_cal)
        ),
        cov AS (
          SELECT sum(CASE WHEN s <= q_hat THEN nt ELSE 0 END) AS c
          FROM per, q
        )
        SELECT n_cal, n_test, q_hat,
               round(c / CAST(n_test AS DOUBLE), 6) AS test_coverage,
               CAST(0.1 AS DOUBLE) AS alpha
        FROM tot, q, cov
    """
    # jackknife_ratio: per-user DECIMAL sums, broadcast totals, the
    # closed-form leave-one-out replicates, and the (n-1)/n variance.
    d["jackknife_ratio"] = """
        WITH pu AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(round(value, 9) AS DECIMAL(18,9))
                               ELSE CAST(0 AS DECIMAL(18,9)) END)
                      AS DECIMAL(18,9)) AS y,
                 CAST(SUM(CAST(1 AS DECIMAL(18,9))) AS DECIMAL(18,9)) AS x
          FROM events GROUP BY 1
        ),
        tot AS (SELECT count(*) AS n, sum(y) AS sy, sum(x) AS sx FROM pu),
        reps AS (
          SELECT CAST(round(CAST(sy - y AS DOUBLE) / CAST(sx - x AS DOUBLE), 9)
                      AS DECIMAL(18,9)) AS r
          FROM pu, tot
        ),
        m AS (
          SELECT count(*) AS n, sum(r) AS sr,
                 sum(CAST(r * r AS DECIMAL(38,18))) AS srr
          FROM reps
        )
        SELECT CAST(m.n AS BIGINT) AS n_units,
               round(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE), 6) AS ratio,
               round(sqrt((m.n - 1.0) / m.n
                          * (CAST(srr AS DOUBLE)
                             - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / m.n)), 6)
                 AS jk_se,
               round(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)
                     - 1.959964 * sqrt((m.n - 1.0) / m.n
                          * (CAST(srr AS DOUBLE)
                             - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / m.n)), 6)
                 AS ci_lo,
               round(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)
                     + 1.959964 * sqrt((m.n - 1.0) / m.n
                          * (CAST(srr AS DOUBLE)
                             - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / m.n)), 6)
                 AS ci_hi
        FROM m, tot
    """
    # capture_recapture: the SAME lex/sem pair chain as
    # dedup_method_agreement (spliced so the two stay in lockstep),
    # with Chapman's estimator replacing the agreement tail.
    _dma_chain = d["dedup_method_agreement"].split("        SELECT CAST(SUM")[0]
    d["capture_recapture"] = _dma_chain + """        , c AS (
          SELECT CAST(SUM(CASE WHEN in_l THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN in_l AND in_s THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_both,
                 count(*) AS n_union
          FROM j
        )
        SELECT n_a, n_b, n_both, n_union,
               round((CAST(n_a AS DOUBLE) + 1) * (CAST(n_b AS DOUBLE) + 1)
                     / (CAST(n_both AS DOUBLE) + 1) - 1, 6) AS n_hat,
               round(sqrt((CAST(n_a AS DOUBLE) + 1) * (CAST(n_b AS DOUBLE) + 1)
                     * (CAST(n_a AS DOUBLE) - CAST(n_both AS DOUBLE))
                     * (CAST(n_b AS DOUBLE) - CAST(n_both AS DOUBLE))
                     / ((CAST(n_both AS DOUBLE) + 1) * (CAST(n_both AS DOUBLE) + 1)
                        * (CAST(n_both AS DOUBLE) + 2))), 6) AS se,
               round((CAST(n_a AS DOUBLE) + 1) * (CAST(n_b AS DOUBLE) + 1)
                     / (CAST(n_both AS DOUBLE) + 1) - 1
                     - 1.959964 * sqrt((CAST(n_a AS DOUBLE) + 1) * (CAST(n_b AS DOUBLE) + 1)
                     * (CAST(n_a AS DOUBLE) - CAST(n_both AS DOUBLE))
                     * (CAST(n_b AS DOUBLE) - CAST(n_both AS DOUBLE))
                     / ((CAST(n_both AS DOUBLE) + 1) * (CAST(n_both AS DOUBLE) + 1)
                        * (CAST(n_both AS DOUBLE) + 2))), 6) AS ci_lo,
               round((CAST(n_a AS DOUBLE) + 1) * (CAST(n_b AS DOUBLE) + 1)
                     / (CAST(n_both AS DOUBLE) + 1) - 1
                     + 1.959964 * sqrt((CAST(n_a AS DOUBLE) + 1) * (CAST(n_b AS DOUBLE) + 1)
                     * (CAST(n_a AS DOUBLE) - CAST(n_both AS DOUBLE))
                     * (CAST(n_b AS DOUBLE) - CAST(n_both AS DOUBLE))
                     / ((CAST(n_both AS DOUBLE) + 1) * (CAST(n_both AS DOUBLE) + 1)
                        * (CAST(n_both AS DOUBLE) + 2))), 6) AS ci_hi,
               round(greatest((CAST(n_a AS DOUBLE) + 1) * (CAST(n_b AS DOUBLE) + 1)
                     / (CAST(n_both AS DOUBLE) + 1) - 1
                     - CAST(n_union AS DOUBLE), 0.0), 6) AS miss_hat
        FROM c
    """
    # source_ablation: the quality replay (corpus_curation's CTEs) into
    # per-source DECIMAL sums and the closed-form leave-one-out means.
    d["source_ablation"] = """
        WITH f AS (
          SELECT doc_id, source, text,
                 regexp_split_to_array(trim(text), '\\s+') AS toks,
                 len(regexp_extract_all(text, '[^\\w\\s]'))
                   / GREATEST(length(text), 1) AS praw
          FROM documents WHERE length(trim(text)) > 0
        ),
        g AS (
          SELECT doc_id, source, toks, praw,
                 len(list_filter(list_transform(toks, t -> lower(t)),
                     t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                'for','on','with','as','at','by','from','that','this')))
                   / GREATEST(len(toks), 1) AS sraw,
                 list_reduce(list_prepend(0, [length(t) for t in toks]), (a,b) -> a + b)
                   / GREATEST(len(toks), 1) AS mwl,
                 LEAST(length(text) / 200.0, 1.0) AS length_ok
          FROM f
        ),
        q AS (
          SELECT source,
                 round((length_ok + (1.0 - LEAST(praw * 5.0, 1.0))
                        + LEAST(sraw * 4.0, 1.0)
                        + CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END) / 4.0, 6)
                   AS quality
          FROM g
        ),
        per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(SUM(CAST(round(quality, 9) AS DECIMAL(18,9)))
                      AS DECIMAL(28,9)) AS s
          FROM q GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS n,
                 CAST(sum(s) AS DECIMAL(28,9)) AS ss
          FROM per
        )
        SELECT source, n_docs,
               round(n_docs / CAST(n AS DOUBLE), 6) AS share,
               round(CAST(s AS DOUBLE) / n_docs, 6) AS mean_in_source,
               round(CAST(ss - s AS DOUBLE) / (n - n_docs), 6) AS loo_mean,
               round(CAST(ss AS DOUBLE) / n
                     - CAST(ss - s AS DOUBLE) / (n - n_docs), 6) AS delta
        FROM per, tot
    """
    # mde_power: per-user DECIMAL sums into conditional arm moments and
    # the closed-form minimum detectable effect (z literals summed in
    # SQL so the constant is the identical IEEE double).
    d["mde_power"] = """
        WITH ev AS (
          SELECT user_id, value,
                 CASE WHEN user_id % 2 = 0 THEN 'treatment'
                      ELSE 'control' END AS arm
          FROM events
        ),
        pu AS (
          SELECT user_id, arm,
                 CAST(SUM(CAST(round(value, 9) AS DECIMAL(18,9)))
                      AS DECIMAL(18,9)) AS v
          FROM ev GROUP BY 1, 2
        ),
        m AS (
          SELECT
            CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT)
              AS nc,
            CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT)
              AS nt,
            SUM(CASE WHEN arm = 'control' THEN v
                     ELSE CAST(0 AS DECIMAL(18,9)) END) AS sc,
            SUM(CASE WHEN arm = 'treatment' THEN v
                     ELSE CAST(0 AS DECIMAL(18,9)) END) AS st,
            SUM(CASE WHEN arm = 'control' THEN CAST(v * v AS DECIMAL(38,18))
                     ELSE CAST(0 AS DECIMAL(38,18)) END) AS scc,
            SUM(CASE WHEN arm = 'treatment' THEN CAST(v * v AS DECIMAL(38,18))
                     ELSE CAST(0 AS DECIMAL(38,18)) END) AS stt
          FROM pu
        )
        SELECT nc AS n_control, nt AS n_treatment,
               round(CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS mean_control,
               round(sqrt((CAST(scc AS DOUBLE)
                           - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                          / (CAST(nc AS DOUBLE) - 1)), 6) AS sd_control,
               round(sqrt((CAST(stt AS DOUBLE)
                           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                          / (CAST(nt AS DOUBLE) - 1)), 6) AS sd_treatment,
               round((1.959964 + 0.841621)
                     * sqrt((CAST(scc AS DOUBLE)
                             - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                            / (CAST(nc AS DOUBLE) - 1) / CAST(nc AS DOUBLE)
                            + (CAST(stt AS DOUBLE)
                               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                              / (CAST(nt AS DOUBLE) - 1) / CAST(nt AS DOUBLE)), 6)
                 AS mde_abs,
               round((1.959964 + 0.841621)
                     * sqrt((CAST(scc AS DOUBLE)
                             - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                            / (CAST(nc AS DOUBLE) - 1) / CAST(nc AS DOUBLE)
                            + (CAST(stt AS DOUBLE)
                               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                              / (CAST(nt AS DOUBLE) - 1) / CAST(nt AS DOUBLE))
                     / (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)), 6) AS mde_rel
        FROM m
    """
    # msprt_always_valid: (day, arm) DECIMAL aggregate, cumulative
    # windows, the pinned 9-dp plug-in sigma^2 and the closed-form
    # mixture likelihood ratio; p = 1 / running max Lambda.
    d["msprt_always_valid"] = """
        WITH ev AS (
          SELECT epoch_ms(ts) // 86400000 AS day, value,
                 CASE WHEN user_id % 2 = 0 THEN 'treatment'
                      ELSE 'control' END AS arm
          FROM events
        ),
        pd AS (
          SELECT day,
                 CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                      AS BIGINT) AS dnc,
                 CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)
                      AS BIGINT) AS dnt,
                 CAST(SUM(CASE WHEN arm = 'control'
                               THEN CAST(round(value, 9) AS DECIMAL(18,9))
                               ELSE CAST(0 AS DECIMAL(18,9)) END)
                      AS DECIMAL(18,9)) AS dsc,
                 CAST(SUM(CASE WHEN arm = 'treatment'
                               THEN CAST(round(value, 9) AS DECIMAL(18,9))
                               ELSE CAST(0 AS DECIMAL(18,9)) END)
                      AS DECIMAL(18,9)) AS dst
          FROM ev GROUP BY 1
        ),
        cum AS (
          SELECT day,
                 CAST(SUM(dnc) OVER w AS BIGINT) AS nc,
                 CAST(SUM(dnt) OVER w AS BIGINT) AS nt,
                 SUM(dsc) OVER w AS sc,
                 SUM(dst) OVER w AS st
          FROM pd
          WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
        ),
        mom AS (
          SELECT count(*) AS n,
                 SUM(CAST(round(value, 9) AS DECIMAL(18,9))) AS s,
                 SUM(CAST(CAST(round(value, 9) AS DECIMAL(18,9))
                          * CAST(round(value, 9) AS DECIMAL(18,9))
                          AS DECIMAL(38,18))) AS ss
          FROM ev
        ),
        sig AS (
          SELECT round(CAST(ss AS DOUBLE) / n
                       - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 9)
                   AS sig2
          FROM mom
        ),
        staged AS (
          SELECT day, nc AS n_control, nt AS n_treatment,
                 round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                       - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS mean_diff,
                 round(sqrt((sig2 * (1.0 / CAST(nc AS DOUBLE) + 1.0 / CAST(nt AS DOUBLE)))
                            / ((sig2 * (1.0 / CAST(nc AS DOUBLE) + 1.0 / CAST(nt AS DOUBLE)))
                               + sig2))
                       * exp((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                              - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                             * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                                - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                             * sig2
                             / (2.0 * (sig2 * (1.0 / CAST(nc AS DOUBLE) + 1.0 / CAST(nt AS DOUBLE)))
                                * ((sig2 * (1.0 / CAST(nc AS DOUBLE) + 1.0 / CAST(nt AS DOUBLE)))
                                   + sig2))), 9) AS lam
          FROM cum, sig
          WHERE nc > 0 AND nt > 0
        )
        SELECT day, n_control, n_treatment, mean_diff,
               round(lam, 6) AS lambda_n,
               round(least(1.0, 1.0 / max(lam)
                     OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 6)
                 AS p_always_valid
        FROM staged
    """
    # bh_fdr: the source_ablation quality replay binned at the literal
    # tercile edges, 2-dof GOF chi-square vs pooled bins (survival =
    # exp(-x/2) exactly), then the BH step-up as a rank-DESC running
    # min over the 20-row family.
    d["bh_fdr"] = """
        WITH f AS (
          SELECT doc_id, source, text,
                 regexp_split_to_array(trim(text), '\\s+') AS toks,
                 len(regexp_extract_all(text, '[^\\w\\s]'))
                   / GREATEST(length(text), 1) AS praw
          FROM documents WHERE length(trim(text)) > 0
        ),
        g AS (
          SELECT doc_id, source, toks, praw,
                 len(list_filter(list_transform(toks, t -> lower(t)),
                     t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                'for','on','with','as','at','by','from','that','this')))
                   / GREATEST(len(toks), 1) AS sraw,
                 list_reduce(list_prepend(0, [length(t) for t in toks]), (a,b) -> a + b)
                   / GREATEST(len(toks), 1) AS mwl,
                 LEAST(length(text) / 200.0, 1.0) AS length_ok
          FROM f
        ),
        q AS (
          SELECT source,
                 round((length_ok + (1.0 - LEAST(praw * 5.0, 1.0))
                        + LEAST(sraw * 4.0, 1.0)
                        + CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END) / 4.0, 6)
                   AS quality
          FROM g
        ),
        per AS (
          SELECT source, count(*) AS n_docs,
                 SUM(CASE WHEN quality <= 0.78 THEN 1 ELSE 0 END) AS o0,
                 SUM(CASE WHEN quality > 0.78 AND quality <= 0.82 THEN 1 ELSE 0 END) AS o1,
                 SUM(CASE WHEN quality > 0.82 THEN 1 ELSE 0 END) AS o2
          FROM q GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS N,
                 CAST(sum(o0) AS BIGINT) AS g0,
                 CAST(sum(o1) AS BIGINT) AS g1,
                 CAST(sum(o2) AS BIGINT) AS g2
          FROM per
        ),
        sc AS (
          SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                 round(
                   CASE WHEN g0 > 0 THEN
                     (CAST(o0 AS DOUBLE) - CAST(n_docs AS DOUBLE) * g0 / N)
                     * (CAST(o0 AS DOUBLE) - CAST(n_docs AS DOUBLE) * g0 / N)
                     / (CAST(n_docs AS DOUBLE) * g0 / N) ELSE 0.0 END
                   + CASE WHEN g1 > 0 THEN
                     (CAST(o1 AS DOUBLE) - CAST(n_docs AS DOUBLE) * g1 / N)
                     * (CAST(o1 AS DOUBLE) - CAST(n_docs AS DOUBLE) * g1 / N)
                     / (CAST(n_docs AS DOUBLE) * g1 / N) ELSE 0.0 END
                   + CASE WHEN g2 > 0 THEN
                     (CAST(o2 AS DOUBLE) - CAST(n_docs AS DOUBLE) * g2 / N)
                     * (CAST(o2 AS DOUBLE) - CAST(n_docs AS DOUBLE) * g2 / N)
                     / (CAST(n_docs AS DOUBLE) * g2 / N) ELSE 0.0 END, 9) AS chi2
          FROM per, tot
        ),
        tested AS (
          SELECT source, n_docs, chi2,
                 round(exp(-chi2 / 2), 9) AS p_value,
                 CAST(row_number() OVER (ORDER BY round(exp(-chi2 / 2), 9) ASC,
                                         source ASC) AS BIGINT) AS p_rank,
                 CAST(count(*) OVER () AS BIGINT) AS m
          FROM sc
        ),
        adj AS (
          SELECT source, n_docs, chi2, p_value, p_rank,
                 least(1.0, min(round(p_value * CAST(m AS DOUBLE) / p_rank, 9))
                       OVER (ORDER BY p_rank DESC ROWS UNBOUNDED PRECEDING))
                   AS p_adj_raw
          FROM tested
        )
        SELECT source, n_docs,
               round(chi2, 6) AS chi2,
               round(p_value, 6) AS p_value,
               p_rank,
               round(p_adj_raw, 6) AS p_adj,
               round(p_adj_raw, 6) <= 0.10 AS reject
        FROM adj
    """
    # isotonic_calibration: the calibration_bins probe chain into the
    # closed minimax PAVA form over prefix sums — a bounded B^3
    # enumeration on the 10-bin grid.
    _stop_sql = ", ".join(f"'{s}'" for s in _CAL_STOPWORDS)
    d["isotonic_calibration"] = rf"""
        WITH toks AS (
          SELECT regexp_split_to_array(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        scored AS (
          SELECT round(len(list_filter(t, x -> list_contains([{_stop_sql}], x)))
                       / CAST(len(t) AS DOUBLE), 9) AS p,
                 CAST(len(list_filter(t, x -> x = 'the')) >= 2 AS INT) AS y
          FROM toks WHERE len(t) > 0
        ),
        grouped AS (
          SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin,
                 count(*) AS n,
                 CAST(SUM(y) AS BIGINT) AS sy
          FROM scored GROUP BY 1
        ),
        pref AS (
          SELECT bin, n, sy,
                 SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
                 SUM(sy) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cy
          FROM grouped
        ),
        pairs AS (
          SELECT j.bin AS j, k.bin AS k,
                 CAST(k.cy - (j.cy - j.sy) AS DOUBLE)
                 / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS avg
          FROM pref j JOIN pref k ON k.bin >= j.bin
        ),
        inner_ AS (
          SELECT i.bin AS i, p.j AS j, min(p.avg) AS mn
          FROM pairs p JOIN pref i ON p.j <= i.bin AND p.k >= i.bin
          GROUP BY 1, 2
        ),
        fit AS (SELECT i, round(max(mn), 6) AS iso_rate FROM inner_ GROUP BY 1)
        SELECT g.bin, g.n,
               round(CAST(g.sy AS DOUBLE) / g.n, 6) AS raw_rate,
               f.iso_rate
        FROM pref g JOIN fit f ON g.bin = f.i
        ORDER BY g.bin
    """
    # good_turing: token frequency-of-frequencies and the literal
    # 6-row r grid with the closed-form adjusted counts and masses.
    d["good_turing"] = r"""
        WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        tc AS (SELECT tok, count(*) AS r FROM toks GROUP BY 1),
        fof AS (SELECT r, count(*) AS n_types FROM tc GROUP BY 1),
        tot AS (SELECT CAST(SUM(r * n_types) AS BIGINT) AS n_tokens FROM fof),
        grid AS (SELECT unnest(range(0, 6)) AS r)
        SELECT g.r,
               CAST(coalesce(c.n_types, 0) AS BIGINT) AS n_types,
               CAST(coalesce(x.n_types, 0) AS BIGINT) AS next_types,
               CASE WHEN coalesce(c.n_types, 0) > 0
                    THEN round(CAST(g.r + 1 AS DOUBLE) * coalesce(x.n_types, 0)
                               / coalesce(c.n_types, 0), 6)
                    ELSE 0.0 END AS r_star,
               round(CAST(g.r AS DOUBLE) * coalesce(c.n_types, 0) / n_tokens, 6)
                 AS ml_mass,
               round(CAST(g.r + 1 AS DOUBLE) * coalesce(x.n_types, 0) / n_tokens, 6)
                 AS gt_mass
        FROM grid g
        LEFT JOIN fof c ON c.r = g.r
        LEFT JOIN fof x ON x.r = g.r + 1, tot
    """
    # tail_index: token counts, top-101 by (cnt DESC, tok ASC), Hill's
    # log fold with 9-dp DECIMAL terms over the bounded k rows.
    d["tail_index"] = r"""
        WITH t AS (
          SELECT string_split_regex(trim(text), '\s+') AS tk
          FROM documents WHERE length(trim(text)) > 0
        ),
        g AS (
          SELECT unnest([array_to_string(tk[i:i+1], ' ')
                         for i in range(1, len(tk))]) AS tok
          FROM t WHERE len(tk) >= 2
        ),
        tc AS (SELECT tok, count(*) AS cnt FROM g GROUP BY 1),
        nk AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM tc),
        top AS (SELECT cnt AS x, tok FROM tc ORDER BY cnt DESC, tok ASC LIMIT 101),
        ranked AS (
          SELECT x, row_number() OVER (ORDER BY x DESC, tok ASC) AS rk FROM top
        ),
        thr AS (SELECT x AS xk1 FROM ranked WHERE rk = 101),
        terms AS (
          SELECT CAST(round(ln(CAST(x AS DOUBLE) / CAST(xk1 AS DOUBLE)), 9)
                      AS DECIMAL(28,9)) AS t
          FROM ranked, thr WHERE rk <= 100
        ),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS k_used, SUM(t) AS s FROM terms)
        SELECT n_keys, k_used AS k, xk1 AS tail_threshold,
               round(CAST(k_used AS DOUBLE) / CAST(s AS DOUBLE), 6) AS hill_alpha,
               round(CAST(k_used AS DOUBLE) / CAST(s AS DOUBLE)
                     / sqrt(CAST(k_used AS DOUBLE)), 6) AS alpha_se
        FROM agg, nk, thr
    """
    # simpsons_check: grouped 2x2 conditional counts, per-stratum ORs,
    # and the TOTAL row's crude vs Mantel-Haenszel common OR with the
    # reversal flag; CMH terms quantize to DECIMAL before summing.
    d["simpsons_check"] = """
        WITH ev AS (
          SELECT event_type AS stratum, (user_id % 2 = 0) AS e,
                 (value > 50.0) AS o
          FROM events
        ),
        per AS (
          SELECT stratum,
                 CAST(SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
                 CAST(SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
                 CAST(SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
                 CAST(SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM ev GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(a) AS BIGINT) AS a, CAST(SUM(b) AS BIGINT) AS b,
                 CAST(SUM(c) AS BIGINT) AS c, CAST(SUM(d) AS BIGINT) AS d,
                 SUM(CAST(round(CAST(a AS DOUBLE) * d / CAST(a + b + c + d AS DOUBLE), 9)
                          AS DECIMAL(28,9))) AS num,
                 SUM(CAST(round(CAST(b AS DOUBLE) * c / CAST(a + b + c + d AS DOUBLE), 9)
                          AS DECIMAL(28,9))) AS den
          FROM per
        )
        SELECT stratum, a, b, c, d, a + b + c + d AS n,
               CASE WHEN b > 0 AND c > 0
                    THEN round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
               END AS odds_ratio,
               CAST(NULL AS DOUBLE) AS cmh_or,
               CAST(NULL AS BOOLEAN) AS reversed
        FROM per
        UNION ALL
        SELECT 'TOTAL', a, b, c, d, a + b + c + d,
               round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6),
               round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6),
               (CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c) > 1.0)
                 <> (CAST(num AS DOUBLE) / CAST(den AS DOUBLE) > 1.0)
        FROM tot
    """
    # negbinom_fit: overdispersion's exact daily moments into the
    # closed-form method-of-moments NB parameters; var<=mean -> NULLs.
    d["negbinom_fit"] = """
        WITH daily AS (
          SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        m AS (
          SELECT g, count(*) AS n_days,
                 SUM(c) AS sx, SUM(c * c) AS sxx
          FROM daily GROUP BY g
        ),
        f AS (
          SELECT g, CAST(n_days AS BIGINT) AS n_days,
                 CAST(sx AS DOUBLE) / n_days AS mean,
                 (n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   / (n_days * (n_days - 1)) AS var
          FROM m
        )
        SELECT g AS event_type, n_days,
               round(mean, 6) AS mean_daily,
               round(var, 6) AS var_daily,
               CASE WHEN var > mean
                    THEN round(mean * mean / (var - mean), 6) END AS nb_r,
               CASE WHEN var > mean THEN round(mean / var, 6) END AS nb_p,
               CASE WHEN var > mean
                    THEN round(pow(mean / var, mean * mean / (var - mean)), 6)
               END AS p_zero
        FROM f
    """
    # entropy_rate: the event_transitions matrix into per-state
    # conditional entropies (9-dp DECIMAL terms) and the TOTAL rate.
    d["entropy_rate"] = """
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS prev_type
          FROM events
        ),
        matrix AS (
          SELECT prev_type AS from_type, event_type AS to_type,
                 count(*) AS cnt
          FROM seq WHERE prev_type IS NOT NULL
          GROUP BY 1, 2
        ),
        ns AS (
          SELECT from_type, CAST(SUM(cnt) AS BIGINT) AS n_out
          FROM matrix GROUP BY 1
        ),
        terms AS (
          SELECT m.from_type, n.n_out,
                 CAST(round((CAST(m.cnt AS DOUBLE) / n.n_out)
                            * ln(CAST(n.n_out AS DOUBLE) / m.cnt), 9)
                      AS DECIMAL(28,9)) AS t
          FROM matrix m JOIN ns n USING (from_type)
        ),
        per_state AS (
          SELECT from_type, n_out, SUM(t) AS h FROM terms GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(n_out) AS BIGINT) AS N FROM per_state),
        rate AS (
          SELECT SUM(CAST(round((CAST(n_out AS DOUBLE) / N)
                                * CAST(h AS DOUBLE), 9)
                          AS DECIMAL(28,9))) AS r
          FROM per_state, tot
        )
        SELECT from_type, n_out,
               round(CAST(n_out AS DOUBLE) / N, 6) AS share,
               round(CAST(h AS DOUBLE), 6) AS h_nats
        FROM per_state, tot
        UNION ALL
        SELECT 'TOTAL', N, 1.0, round(CAST(r AS DOUBLE), 6)
        FROM rate, tot
    """
    # quantile_treatment: per-unit DECIMAL sums, one quantile_cont
    # array per arm (same interpolation as Spark percentile), pivot.
    d["quantile_treatment"] = """
        WITH ev AS (
          SELECT user_id, value,
                 CASE WHEN user_id % 2 = 0 THEN 'treatment'
                      ELSE 'control' END AS arm
          FROM events
        ),
        pu AS (
          SELECT user_id, arm,
                 CAST(CAST(SUM(CAST(round(value, 9) AS DECIMAL(18,9)))
                           AS DECIMAL(18,9)) AS DOUBLE) AS v
          FROM ev GROUP BY 1, 2
        ),
        qs AS (
          SELECT arm,
                 unnest(CAST([0.25, 0.5, 0.75, 0.9] AS DOUBLE[])) AS q,
                 unnest(quantile_cont(v, [0.25, 0.5, 0.75, 0.9])) AS qv
          FROM pu GROUP BY arm
        )
        SELECT q,
               round(max(CASE WHEN arm = 'control' THEN qv END), 6) AS control_q,
               round(max(CASE WHEN arm = 'treatment' THEN qv END), 6) AS treatment_q,
               round(max(CASE WHEN arm = 'treatment' THEN qv END)
                     - max(CASE WHEN arm = 'control' THEN qv END), 6) AS qte
        FROM qs GROUP BY q
    """
    # covariate_balance: per-user covariates, a UNION-ALL melt, and
    # the conditional-moment SMD with sample variances.
    d["covariate_balance"] = """
        WITH pu AS (
          SELECT user_id,
                 CAST(CAST(SUM(CAST(round(value, 9) AS DECIMAL(18,9)))
                           AS DECIMAL(18,9)) AS DOUBLE) AS total_value,
                 count(*) AS n_events,
                 count(DISTINCT epoch_ms(ts) // 86400000) AS active_days,
                 CASE WHEN user_id % 2 = 0 THEN 'treatment'
                      ELSE 'control' END AS arm
          FROM events GROUP BY user_id
        ),
        melted AS (
          SELECT arm, 'total_value' AS cov,
                 CAST(round(total_value, 9) AS DECIMAL(18,9)) AS x FROM pu
          UNION ALL
          SELECT arm, 'n_events',
                 CAST(round(CAST(n_events AS DOUBLE), 9) AS DECIMAL(18,9)) FROM pu
          UNION ALL
          SELECT arm, 'active_days',
                 CAST(round(CAST(active_days AS DOUBLE), 9) AS DECIMAL(18,9)) FROM pu
        ),
        m AS (
          SELECT cov,
                 CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                 CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                 SUM(CASE WHEN arm = 'control' THEN x
                          ELSE CAST(0 AS DECIMAL(18,9)) END) AS sc,
                 SUM(CASE WHEN arm = 'treatment' THEN x
                          ELSE CAST(0 AS DECIMAL(18,9)) END) AS st,
                 SUM(CASE WHEN arm = 'control' THEN CAST(x * x AS DECIMAL(38,18))
                          ELSE CAST(0 AS DECIMAL(38,18)) END) AS scc,
                 SUM(CASE WHEN arm = 'treatment' THEN CAST(x * x AS DECIMAL(38,18))
                          ELSE CAST(0 AS DECIMAL(38,18)) END) AS stt
          FROM melted GROUP BY cov
        )
        SELECT cov AS covariate, nc AS n_control, nt AS n_treatment,
               round(CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS mean_control,
               round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS mean_treatment,
               round((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                      - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                     / sqrt(((CAST(stt AS DOUBLE)
                              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                             / (CAST(nt AS DOUBLE) - 1)
                             + (CAST(scc AS DOUBLE)
                                - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                               / (CAST(nc AS DOUBLE) - 1)) / 2), 6) AS smd,
               abs(round((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                      - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                     / sqrt(((CAST(stt AS DOUBLE)
                              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                             / (CAST(nt AS DOUBLE) - 1)
                             + (CAST(scc AS DOUBLE)
                                - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                               / (CAST(nc AS DOUBLE) - 1)) / 2), 6)) < 0.1 AS balanced
        FROM m
    """
    # gains_curve: the probe classifier binned, DESC prefix sums on the
    # bounded grid, lift = recall / example-share.
    d["gains_curve"] = rf"""
        WITH toks AS (
          SELECT regexp_split_to_array(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        scored AS (
          SELECT round(len(list_filter(t, x -> list_contains([{_stop_sql}], x)))
                       / CAST(len(t) AS DOUBLE), 9) AS p,
                 CAST(len(list_filter(t, x -> x = 'the')) >= 2 AS INT) AS y
          FROM toks WHERE len(t) > 0
        ),
        grouped AS (
          SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin,
                 count(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
          FROM scored GROUP BY 1
        ),
        tot AS (SELECT SUM(n) AS tn, SUM(pos) AS tp FROM grouped),
        cum AS (
          SELECT bin, n, pos,
                 SUM(n) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS cn,
                 SUM(pos) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS cp
          FROM grouped
        )
        SELECT bin, n, pos,
               round(CAST(cn AS DOUBLE) / tn, 6) AS cum_frac_examples,
               round(CAST(cp AS DOUBLE) / tp, 6) AS cum_recall,
               round((CAST(cp AS DOUBLE) / tp) / (CAST(cn AS DOUBLE) / tn), 6)
                 AS lift
        FROM cum, tot
        ORDER BY bin
    """
    # autocorrelation: daily counts, 9-dp-pinned mean, DECIMAL-quantized
    # centered products over the lag-exploded day-grid self-join.
    d["autocorrelation"] = """
        WITH daily AS (
          SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        m AS (
          SELECT g, count(*) AS n_days, SUM(c) AS sx FROM daily GROUP BY g
        ),
        mean AS (
          SELECT g, round(CAST(sx AS DOUBLE) / n_days, 9) AS mu FROM m
        ),
        centered AS (
          SELECT d.g, d.day, CAST(d.c AS DOUBLE) - mu AS dx
          FROM daily d JOIN mean USING (g)
        ),
        denom AS (
          SELECT g, SUM(CAST(round(dx * dx, 9) AS DECIMAL(28,9))) AS den
          FROM centered GROUP BY g
        ),
        lags AS (SELECT unnest(range(1, 8)) AS lag),
        pairs AS (
          SELECT l.g, lg.lag, l.dx AS dx1, r.dx AS dx2
          FROM centered l
          CROSS JOIN lags lg
          JOIN centered r ON r.g = l.g AND r.day = l.day + lg.lag
        ),
        num AS (
          SELECT g, lag, count(*) AS n_pairs,
                 SUM(CAST(round(dx1 * dx2, 9) AS DECIMAL(28,9))) AS nu
          FROM pairs GROUP BY 1, 2
        )
        SELECT n.g AS event_type, CAST(n.lag AS BIGINT) AS lag,
               CAST(n.n_pairs AS BIGINT) AS n_pairs,
               round(CAST(nu AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
        FROM num n JOIN denom USING (g)
    """
    # code_detection: the three expression features replayed (global
    # regexp_replace, keyword/identifier list_filters) into the same
    # weighted score and per-source rollup.
    _kw_sql = ", ".join(f"'{k}'" for k in text._CODE_KEYWORDS)
    d["code_detection"] = rf"""
        WITH base AS (
          SELECT source, text,
                 regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents WHERE length(trim(text)) > 0
        ),
        sc AS (
          SELECT source,
                 round(
                   LEAST((length(text)
                          - length(regexp_replace(text, '[{{}}();=\[\]<>]', '', 'g')))
                         / GREATEST(length(text), 1) * 8.0, 1.0) * 0.4
                   + LEAST(len(list_filter(toks,
                                t -> list_contains([{_kw_sql}], lower(t))))
                           / GREATEST(len(toks), 1) * 5.0, 1.0) * 0.4
                   + LEAST(len(list_filter(toks,
                                t -> regexp_matches(t, '^[a-z]+(_[a-z0-9]+)+$')
                                     OR regexp_matches(t, '^[a-z]+([A-Z][a-z0-9]+)+$')))
                           / GREATEST(len(toks), 1) * 5.0, 1.0) * 0.2,
                 6) AS s
          FROM base
        )
        SELECT source, count(*) AS n_docs,
               CAST(SUM(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
               round(SUM(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS code_share,
               round(CAST(SUM(CAST(s AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6)
                 AS avg_score
        FROM sc GROUP BY source
    """
    # holt_forecast: the identical double recursion walked as a
    # recursive CTE over the per-group day series.
    d["holt_forecast"] = """
        WITH RECURSIVE daily AS (
          SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        series AS (
          SELECT g, row_number() OVER (PARTITION BY g ORDER BY day) AS t,
                 CAST(c AS DOUBLE) AS x
          FROM daily
        ),
        n AS (SELECT g, CAST(count(*) AS INT) AS n_days FROM series GROUP BY 1),
        init AS (
          SELECT s1.g, 1 AS t, s1.x AS l, s2.x - s1.x AS b
          FROM series s1 JOIN series s2 ON s2.g = s1.g AND s2.t = 2
          WHERE s1.t = 1
        ),
        st AS (
          SELECT g, t, l, b FROM init
          UNION ALL
          SELECT st.g, st.t + 1,
                 0.5 * s.x + 0.5 * (st.l + st.b),
                 0.3 * (0.5 * s.x + 0.5 * (st.l + st.b) - st.l) + 0.7 * st.b
          FROM st JOIN series s ON s.g = st.g AND s.t = st.t + 1
        )
        SELECT st.g AS event_type, n.n_days,
               round(st.l, 6) AS level,
               round(st.b, 6) AS trend,
               round(st.l + st.b, 6) AS forecast_1d,
               round(st.l + 7.0 * st.b, 6) AS forecast_7d
        FROM st JOIN n ON n.g = st.g
        WHERE st.t = n.n_days AND n.n_days >= 2
    """
    # shingle_df_sweep: the pair generator's shingle chain into a df
    # histogram and the per-cap exact pair sums.
    d["shingle_df_sweep"] = r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in range(1, len(t) - 1)])) AS s
          FROM toks
        ),
        dfc AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        hist AS (SELECT df, count(*) AS n_sh FROM dfc GROUP BY 1),
        tot AS (
          SELECT CAST(SUM(n_sh) AS BIGINT) AS tot_sh,
                 SUM(CAST(CAST(df * (df - 1) / 2 AS BIGINT) AS DECIMAL(38,0))
                     * n_sh) AS tot_pairs
          FROM hist
        ),
        grid AS (SELECT unnest([25, 50, 100, 200]) AS cap),
        kept AS (
          -- LEFT join + coalesce: a cap keeping zero shingles still
          -- reports (mirrors the engine's r9 left-join fix)
          SELECT cap,
                 CAST(coalesce(SUM(n_sh), 0) AS BIGINT) AS n_kept,
                 coalesce(SUM(CAST(CAST(df * (df - 1) / 2 AS BIGINT)
                                   AS DECIMAL(38,0)) * n_sh),
                          CAST(0 AS DECIMAL(38,0))) AS pairs
          FROM grid LEFT JOIN hist ON hist.df <= grid.cap
          GROUP BY cap
        )
        SELECT CAST(cap AS INT) AS cap, n_kept,
               tot_sh - n_kept AS n_hot_dropped,
               CAST(pairs AS BIGINT) AS candidate_pairs,
               round(1.0 - CAST(pairs AS DOUBLE) / CAST(tot_pairs AS DOUBLE), 6)
                 AS pair_reduction
        FROM kept, tot
        ORDER BY cap
    """
    # fingerprint_collisions: the text_fingerprint chain + md5 identity
    # into the two-level exact collision count and the birthday bound.
    d["fingerprint_collisions"] = r"""
        WITH fps AS (
          SELECT list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       string_split_regex(
                         lower(regexp_replace(text, '\s+', ' ', 'g')), ''),
                       c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 2147483647) AS fp,
                 md5(text) AS tid
          FROM documents
        ),
        g1 AS (SELECT fp, tid, count(*) AS c FROM fps GROUP BY 1, 2),
        g2 AS (
          SELECT fp, SUM(c) AS n, count(*) AS dt,
                 CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS same_text
          FROM g1 GROUP BY fp
        )
        SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_fingerprints,
               CAST(SUM(CASE WHEN dt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS collision_fps,
               CAST(SUM(CAST(n * (n - 1) / 2 AS BIGINT) - same_text) AS BIGINT)
                 AS colliding_pairs,
               round(CAST(SUM(n) AS DOUBLE) * (SUM(n) - 1) / 2 / 2147483647.0, 6)
                 AS expected_random_collisions
        FROM g2
    """
    # aa_test: per-unit DECIMAL sums over the odd-user control arm,
    # split on the next hash bit, two-sample z closed form.
    d["aa_test"] = """
        WITH ev AS (
          SELECT user_id, value, ((user_id // 2) % 2 = 0) AS a
          FROM events WHERE user_id % 2 = 1
        ),
        pu AS (
          SELECT user_id, a,
                 CAST(SUM(CAST(round(value, 9) AS DECIMAL(18,9)))
                      AS DECIMAL(18,9)) AS v
          FROM ev GROUP BY 1, 2
        ),
        m AS (
          SELECT
            CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            SUM(CASE WHEN a THEN v ELSE CAST(0 AS DECIMAL(18,9)) END) AS s1,
            SUM(CASE WHEN NOT a THEN v ELSE CAST(0 AS DECIMAL(18,9)) END) AS s2,
            SUM(CASE WHEN a THEN CAST(v * v AS DECIMAL(38,18))
                     ELSE CAST(0 AS DECIMAL(38,18)) END) AS ss1,
            SUM(CASE WHEN NOT a THEN CAST(v * v AS DECIMAL(38,18))
                     ELSE CAST(0 AS DECIMAL(38,18)) END) AS ss2
          FROM pu
        )
        SELECT n1 AS n_a1, n2 AS n_a2,
               round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mean_a1,
               round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS mean_a2,
               round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                     / sqrt((CAST(ss1 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                            / (CAST(n1 AS DOUBLE) - 1) / CAST(n1 AS DOUBLE)
                            + (CAST(ss2 AS DOUBLE)
                               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                              / (CAST(n2 AS DOUBLE) - 1) / CAST(n2 AS DOUBLE)), 6)
                 AS z_stat,
               abs(round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                     / sqrt((CAST(ss1 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                            / (CAST(n1 AS DOUBLE) - 1) / CAST(n1 AS DOUBLE)
                            + (CAST(ss2 AS DOUBLE)
                               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                              / (CAST(n2 AS DOUBLE) - 1) / CAST(n2 AS DOUBLE)), 6))
                 < 1.959964 AS aa_pass
        FROM m
    """
    # cluster_cohesion: SPLICED from the dedup_clusters oracle (same
    # shingle/pair/closure chain, so the two can never drift), with the
    # cohesion rollup replacing the node->cluster tail.
    _clu_chain = d["dedup_clusters"].rsplit("SELECT d.doc_id AS node", 1)[0]
    d["cluster_cohesion"] = _clu_chain + """, clmap AS (
          SELECT d.doc_id AS node,
                 least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id
        ),
        cm AS (
          SELECT cluster, count(*) AS m FROM clmap
          GROUP BY 1 HAVING count(*) >= 2
        ),
        ec AS (
          SELECT c.cluster, count(*) AS e
          FROM pairs p JOIN clmap c ON c.node = p.id_a GROUP BY 1
        ),
        coh AS (
          SELECT cm.cluster, cm.m, coalesce(ec.e, 0) AS e,
                 round(coalesce(ec.e, 0)
                       / (CAST(cm.m AS DOUBLE) * (cm.m - 1) / 2), 6) AS cohesion
          FROM cm LEFT JOIN ec USING (cluster)
        )
        SELECT CASE WHEN m = 2 THEN '2' WHEN m <= 4 THEN '3-4'
                    ELSE '5+' END AS size_band,
               count(*) AS n_clusters,
               CAST(SUM(m) AS BIGINT) AS n_members,
               round(CAST(SUM(CAST(cohesion AS DECIMAL(18,9))) AS DOUBLE)
                     / count(*), 6) AS avg_cohesion,
               min(cohesion) AS min_cohesion
        FROM coh GROUP BY 1
    """
    # dedup_review_sample: the same common/sizes chain, pairs WITH the
    # jaccard value, then the Knuth-hash stratified row_number cut.
    _pair_head = d["dedup_clusters"].rsplit("pairs AS (", 1)[0]
    d["dedup_review_sample"] = _pair_head + """pairs AS (
          SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 6) AS jaccard
          FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(c / (sa.n + sb.n - c), 6) >= 0.6
        ),
        branded AS (
          SELECT id_a, id_b, jaccard,
                 CASE WHEN jaccard >= 0.9 THEN '0.9+'
                      WHEN jaccard >= 0.8 THEN '0.8-0.9'
                      WHEN jaccard >= 0.7 THEN '0.7-0.8'
                      ELSE '<0.7' END AS band,
                 (id_a * 1000003 + id_b) % 1000000007 AS h
          FROM pairs
        ),
        ranked AS (
          SELECT band, id_a, id_b, jaccard,
                 row_number() OVER (PARTITION BY band
                                    ORDER BY h, id_a, id_b) AS rk
          FROM branded
        )
        SELECT band, CAST(rk AS INT) AS rk, id_a, id_b, jaccard
        FROM ranked WHERE rk <= 5
    """
    # pii_density: the pii_scrub salt + the same four RE2 patterns,
    # rolled up per source with per-1k-char densities.
    d["pii_density"] = r"""
        WITH f AS (
          SELECT source,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-123-4567' AS t
          FROM documents
        ),
        c AS (
          SELECT source, length(t) AS chars,
                 len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                 len(regexp_extract_all(t, '\+?[0-9][0-9 ()-]{7,}[0-9]')) AS n_phone,
                 len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn,
                 len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ipv4
          FROM f
        )
        SELECT source, count(*) AS n_docs,
               CAST(SUM(chars) AS BIGINT) AS n_chars,
               CAST(SUM(n_email) AS BIGINT) AS n_email,
               CAST(SUM(n_phone) AS BIGINT) AS n_phone,
               CAST(SUM(n_ssn) AS BIGINT) AS n_ssn,
               CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
               round(CAST(SUM(n_email) AS BIGINT) * 1000.0
                     / CAST(SUM(chars) AS BIGINT), 6) AS email_per_1k,
               round(CAST(SUM(n_phone) AS BIGINT) * 1000.0
                     / CAST(SUM(chars) AS BIGINT), 6) AS phone_per_1k,
               round(CAST(SUM(n_ssn) AS BIGINT) * 1000.0
                     / CAST(SUM(chars) AS BIGINT), 6) AS ssn_per_1k,
               round(CAST(SUM(n_ipv4) AS BIGINT) * 1000.0
                     / CAST(SUM(chars) AS BIGINT), 6) AS ipv4_per_1k
        FROM c GROUP BY source
    """
    # weighted_quantiles: the quality replay, char weights, cumulative
    # ROWS window and the conditional-min boundary pick per q.
    d["weighted_quantiles"] = """
        WITH f AS (
          SELECT doc_id, source, text, n_chars,
                 regexp_split_to_array(trim(text), '\\s+') AS toks,
                 len(regexp_extract_all(text, '[^\\w\\s]'))
                   / GREATEST(length(text), 1) AS praw
          FROM documents WHERE length(trim(text)) > 0
        ),
        g AS (
          SELECT doc_id, source, n_chars, toks, praw,
                 len(list_filter(list_transform(toks, t -> lower(t)),
                     t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                'for','on','with','as','at','by','from','that','this')))
                   / GREATEST(len(toks), 1) AS sraw,
                 list_reduce(list_prepend(0, [length(t) for t in toks]), (a,b) -> a + b)
                   / GREATEST(len(toks), 1) AS mwl,
                 LEAST(length(text) / 200.0, 1.0) AS length_ok
          FROM f
        ),
        q AS (
          SELECT source, n_chars AS w,
                 round((length_ok + (1.0 - LEAST(praw * 5.0, 1.0))
                        + LEAST(sraw * 4.0, 1.0)
                        + CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END) / 4.0, 6)
                   AS v
          FROM g
        ),
        c AS (
          SELECT source, v,
                 SUM(w) OVER (PARTITION BY source ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cw,
                 SUM(w) OVER (PARTITION BY source) AS W
          FROM q
        )
        SELECT source, CAST(max(W) AS BIGINT) AS w_total,
               min(CASE WHEN cw >= 0.5 * W THEN v END) AS wq50,
               min(CASE WHEN cw >= 0.9 * W THEN v END) AS wq90
        FROM c GROUP BY source
    """
    # sample_size_grid: mde_power's moment CTEs into the inverse-power
    # formula over the literal relative-effect grid.
    d["sample_size_grid"] = """
        WITH ev AS (
          SELECT user_id, value,
                 CASE WHEN user_id % 2 = 0 THEN 'treatment'
                      ELSE 'control' END AS arm
          FROM events
        ),
        pu AS (
          SELECT user_id, arm,
                 CAST(SUM(CAST(round(value, 9) AS DECIMAL(18,9)))
                      AS DECIMAL(18,9)) AS v
          FROM ev GROUP BY 1, 2
        ),
        m AS (
          SELECT
            CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT)
              AS nc,
            CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT)
              AS nt,
            SUM(CASE WHEN arm = 'control' THEN v
                     ELSE CAST(0 AS DECIMAL(18,9)) END) AS sc,
            SUM(CASE WHEN arm = 'treatment' THEN v
                     ELSE CAST(0 AS DECIMAL(18,9)) END) AS st,
            SUM(CASE WHEN arm = 'control' THEN CAST(v * v AS DECIMAL(38,18))
                     ELSE CAST(0 AS DECIMAL(38,18)) END) AS scc,
            SUM(CASE WHEN arm = 'treatment' THEN CAST(v * v AS DECIMAL(38,18))
                     ELSE CAST(0 AS DECIMAL(38,18)) END) AS stt
          FROM pu
        ),
        grid AS (
          SELECT unnest(CAST([0.01, 0.02, 0.05, 0.1] AS DOUBLE[])) AS rel_effect
        )
        SELECT rel_effect,
               round(rel_effect * (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)), 6)
                 AS delta_abs,
               CAST(ceil((1.959964 + 0.841621) * (1.959964 + 0.841621)
                         * ((CAST(scc AS DOUBLE)
                             - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                            / (CAST(nc AS DOUBLE) - 1)
                            + (CAST(stt AS DOUBLE)
                               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                              / (CAST(nt AS DOUBLE) - 1))
                         / ((rel_effect * (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)))
                            * (rel_effect * (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)))))
                    AS BIGINT) AS n_per_arm
        FROM grid, m
    """
    # mann_kendall: exact S over the day-grid pair join, tie-corrected
    # variance, continuity-corrected z.
    d["mann_kendall"] = """
        WITH daily AS (
          SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        s AS (
          SELECT l.g,
                 CAST(SUM(CAST(sign(r.c - l.c) AS BIGINT)) AS BIGINT) AS s
          FROM daily l JOIN daily r ON r.g = l.g AND l.day < r.day
          GROUP BY 1
        ),
        ties AS (
          SELECT g, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS corr
          FROM (SELECT g, c, count(*) AS t FROM daily GROUP BY 1, 2)
          GROUP BY g
        ),
        n AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1)
        SELECT n.g AS event_type, n.n_days, s.s AS s_stat,
               round(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - corr
                          AS DOUBLE) / 18, 6) AS var_s,
               round(CASE WHEN s.s > 0 THEN (s.s - 1)
                          / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - corr
                                      AS DOUBLE) / 18)
                          WHEN s.s < 0 THEN (s.s + 1)
                          / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - corr
                                      AS DOUBLE) / 18)
                          ELSE 0.0 END, 6) AS z,
               CASE WHEN round(CASE WHEN s.s > 0 THEN (s.s - 1)
                          / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - corr
                                      AS DOUBLE) / 18)
                          WHEN s.s < 0 THEN (s.s + 1)
                          / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - corr
                                      AS DOUBLE) / 18)
                          ELSE 0.0 END, 6) >= 1.959964 THEN 'increasing'
                    WHEN round(CASE WHEN s.s > 0 THEN (s.s - 1)
                          / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - corr
                                      AS DOUBLE) / 18)
                          WHEN s.s < 0 THEN (s.s + 1)
                          / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - corr
                                      AS DOUBLE) / 18)
                          ELSE 0.0 END, 6) <= -1.959964 THEN 'decreasing'
                    ELSE 'none' END AS trend
        FROM n JOIN s USING (g) JOIN ties USING (g)
    """
    # runs_test: median split (> median is the documented tie rule),
    # lag-based run count, closed-form mu/sigma/z.
    d["runs_test"] = """
        WITH daily AS (
          SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        med AS (SELECT g, quantile_cont(c, 0.5) AS med FROM daily GROUP BY 1),
        signed AS (
          SELECT d.g, d.day, CAST(d.c > m.med AS INT) AS sgn
          FROM daily d JOIN med m USING (g)
        ),
        runs AS (
          SELECT g, sgn,
                 CASE WHEN lag(sgn) OVER (PARTITION BY g ORDER BY day) IS NULL
                        OR lag(sgn) OVER (PARTITION BY g ORDER BY day) <> sgn
                      THEN 1 ELSE 0 END AS chg
          FROM signed
        ),
        agg AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n_days,
                 CAST(SUM(sgn) AS BIGINT) AS n_above,
                 CAST(SUM(1 - sgn) AS BIGINT) AS n_below,
                 CAST(SUM(chg) AS BIGINT) AS runs
          FROM runs GROUP BY g
        )
        SELECT g AS event_type, n_days, n_above, n_below, runs,
               round((runs - (2 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                              / CAST(n_days AS DOUBLE) + 1))
                     / sqrt(2 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                            * (2 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                               - CAST(n_days AS DOUBLE))
                            / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
                               * (CAST(n_days AS DOUBLE) - 1))), 6) AS z,
               abs(round((runs - (2 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                              / CAST(n_days AS DOUBLE) + 1))
                     / sqrt(2 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                            * (2 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                               - CAST(n_days AS DOUBLE))
                            / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
                               * (CAST(n_days AS DOUBLE) - 1))), 6)) < 1.959964
                 AS random
        FROM agg
    """
    # dedup_rate_by_length: exact_dedup's normalized key + lorenz
    # cutpoint deciles (greater-than bucketing, no global sort).
    d["dedup_rate_by_length"] = r"""
        WITH keyed AS (
          SELECT doc_id AS id, n_chars AS len,
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS k
          FROM documents
        ),
        flagged AS (
          SELECT id, len,
                 CAST(min(id) OVER (PARTITION BY k) <> id AS BIGINT) AS is_dup
          FROM keyed
        ),
        cuts AS (
          SELECT quantile_cont(n_chars, 0.1) AS c1, quantile_cont(n_chars, 0.2) AS c2,
                 quantile_cont(n_chars, 0.3) AS c3, quantile_cont(n_chars, 0.4) AS c4,
                 quantile_cont(n_chars, 0.5) AS c5, quantile_cont(n_chars, 0.6) AS c6,
                 quantile_cont(n_chars, 0.7) AS c7, quantile_cont(n_chars, 0.8) AS c8,
                 quantile_cont(n_chars, 0.9) AS c9
          FROM documents
        )
        SELECT 1 + CAST(len > c1 AS INT) + CAST(len > c2 AS INT)
                 + CAST(len > c3 AS INT) + CAST(len > c4 AS INT)
                 + CAST(len > c5 AS INT) + CAST(len > c6 AS INT)
                 + CAST(len > c7 AS INT) + CAST(len > c8 AS INT)
                 + CAST(len > c9 AS INT) AS decile,
               count(*) AS n_docs,
               CAST(SUM(is_dup) AS BIGINT) AS n_dupes,
               round(CAST(SUM(is_dup) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
                 AS dup_rate,
               round(CAST(SUM(CAST(len AS DECIMAL(38,0))) AS DOUBLE) / count(*), 6)
                 AS avg_len
        FROM flagged, cuts
        GROUP BY 1
    """
    # lang_confusion: SPLICED from text_langid's marker-score chain
    # (head + the CASE segment verbatim), joined back to the lang
    # labels for the row-normalized confusion cells.
    _lid = d["text_langid"]
    _lid_head = _lid.split("            SELECT CASE", 1)[0]
    _lid_case = _lid.split("SELECT CASE", 1)[1].split("END AS pred_lang", 1)[0]
    d["lang_confusion"] = (
        _lid_head
        + """, pred AS (
              SELECT doc_id, CASE"""
        + _lid_case
        + """END AS pl FROM scores
            )
            SELECT d.lang AS true_label, p.pl AS pred_label,
                   count(*) AS n,
                   round(CAST(count(*) AS DOUBLE)
                         / CAST(SUM(count(*)) OVER (PARTITION BY d.lang)
                                AS DOUBLE), 6) AS share_of_true
            FROM pred p JOIN documents d USING (doc_id)
            GROUP BY 1, 2
    """
    )
    # dp_release: fingerprint-seeded Knuth uniform through the Laplace
    # inverse CDF; composition literals injected from the same Python
    # arithmetic the Spark side uses.
    _eps_adv = round(
        1.0 * _math.sqrt(2 * 10 * _math.log(1 / 1e-6))
        + 10 * 1.0 * (_math.exp(1.0) - 1),
        6,
    )
    d["dp_release"] = rf"""
        WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        fp AS (
          SELECT source, n,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       string_split_regex(
                         lower(regexp_replace(source, '\s+', ' ', 'g')), ''),
                       ch -> CAST(ascii(ch) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 2147483647) AS f
          FROM c
        ),
        u AS (
          SELECT source, n,
                 ((f + 42) * 2654435761) % 1000000007 / 1000000007 AS u
          FROM fp
        )
        SELECT source,
               round(n + -1.0 * sign(u - 0.5)
                     * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS released_count,
               CAST(1.0 AS DOUBLE) AS epsilon,
               CAST(10 AS INT) AS k_queries,
               CAST(10.0 AS DOUBLE) AS eps_basic,
               CAST({_eps_adv!r} AS DOUBLE) AS eps_advanced
        FROM u
    """
    # minhash_bbit: ONE chain serves both sides — the minhash-oracle
    # shingle/signature recipe (same 64 linear permutations) AND the
    # exact-jaccard pair set at 0.5/df100; match counts are generated
    # 64-term sums, estimates and MAE mirror the Spark arithmetic.
    _bb_mins = ",\n                 ".join(
        f"min(({2 * i + 1} * h0 + {i * i + i + 41}) % {_mh_mod}) AS h{i}"
        for i in range(64)
    )
    _bb_full = " + ".join(f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(64))
    _bb_bbit = " + ".join(
        f"CAST(a.h{i} % 4 = b.h{i} % 4 AS INT)" for i in range(64)
    )
    d["minhash_bbit"] = rf"""
        WITH t AS (
          SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
          FROM documents
        ),
        tk AS (SELECT doc_id, string_split(norm, ' ') AS w FROM t),
        sh AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
          FROM tk, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        dfc AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        rare AS (
          SELECT sh.doc_id, sh.s FROM sh JOIN dfc USING (s) WHERE dfc.df <= 100
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
        ),
        common AS (
          SELECT c.id_a, c.id_b, count(*) AS c
          FROM cand c JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND a.s = b.s
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 6) AS jaccard
          FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(c / (sa.n + sb.n - c), 6) >= 0.5
        ),
        hh AS (
          SELECT doc_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(s, ''),
                     ch -> CAST(ascii(ch) AS BIGINT))),
                   (x, y) -> (x * 31 + y) % {_mh_mod}) AS h0
          FROM sh
        ),
        sig AS (
          SELECT doc_id,
                 {_bb_mins}
          FROM hh GROUP BY doc_id
        ),
        mm AS (
          SELECT p.jaccard, ({_bb_full}) AS nm, ({_bb_bbit}) AS nb
          FROM pairs p
          JOIN sig a ON a.doc_id = p.id_a
          JOIN sig b ON b.doc_id = p.id_b
        ),
        sc AS (
          SELECT CASE WHEN jaccard >= 0.9 THEN '0.9+'
                      WHEN jaccard >= 0.7 THEN '0.7-0.9'
                      ELSE '0.5-0.7' END AS band,
                 CAST(round(abs(CAST(nm AS DOUBLE) / 64 - jaccard), 9)
                      AS DECIMAL(28,9)) AS ef,
                 CAST(round(abs((CAST(nb AS DOUBLE) / 64 - 0.25) / 0.75
                                - jaccard), 9) AS DECIMAL(28,9)) AS eb
          FROM mm
        )
        SELECT band, count(*) AS n_pairs,
               round(CAST(SUM(ef) AS DOUBLE) / count(*), 6) AS mae_full,
               round(CAST(SUM(eb) AS DOUBLE) / count(*), 6) AS mae_2bit
        FROM sc GROUP BY band
    """
    # freshness_half_life: daily counts on the age grid, 9-dp ln, exact
    # DECIMAL OLS moments, ln2/(-slope) when decaying.
    d["freshness_half_life"] = f"""
        WITH mx AS (SELECT max(epoch_ms(ts) // 86400000) AS mxd FROM events),
        daily AS (
          SELECT epoch_ms(ts) // 86400000 AS d, count(*) AS c
          FROM events GROUP BY 1
        ),
        aged AS (
          SELECT (mxd - d) AS age,
                 CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
          FROM daily, mx
        ),
        m AS (
          SELECT count(*) AS n,
                 SUM(CAST(age AS DECIMAL(38,0))) AS sx,
                 SUM(y) AS sy,
                 SUM(CAST(age * y AS DECIMAL(38,9))) AS sxy,
                 SUM(CAST(CAST(age AS DECIMAL(38,0)) * age AS DECIMAL(38,0)))
                   AS sxx
          FROM aged
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS slope,
               round(CAST(sy AS DOUBLE) / n
                     - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                       * (CAST(sx AS DOUBLE) / n), 6) AS intercept,
               CASE WHEN round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) < 0
                    THEN round(CAST({_math.log(2)!r} AS DOUBLE)
                          / -((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                              / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 6)
               END AS half_life_days
        FROM m
    """
    # interval_overlap: brute-force per-user non-equi join — equality
    # with Spark's banded plan proves the band-ownership dedup exact.
    d["interval_overlap"] = """
        WITH ev AS (
          SELECT user_id, event_type, event_id,
                 epoch_ms(ts) AS s,
                 epoch_ms(ts) + CAST(floor(value * 10000) AS BIGINT) AS e
          FROM events
        ),
        a AS (SELECT user_id, event_id, s, e FROM ev WHERE event_type = 'view'),
        b AS (SELECT user_id, event_id, s, e FROM ev WHERE event_type = 'click'),
        pairs AS (
          SELECT a.user_id,
                 least(a.e, b.e) - greatest(a.s, b.s) AS overlap_ms
          FROM a JOIN b ON a.user_id = b.user_id
                        AND a.s <= b.e AND b.s <= a.e
        )
        SELECT user_id, count(*) AS n_pairs,
               CAST(sum(overlap_ms) AS BIGINT) AS overlap_ms
        FROM pairs GROUP BY 1
    """
    # ndcg_eval: replay judged rows (one SELECT per pinned query), both
    # rankings, and the literal-discount DECIMAL-quantized sums.
    _judged = "\n            UNION ALL\n".join(
        f"""
            SELECT '{t1} {t2}' AS query, doc_id,
                   len(list_filter(t, x -> x = '{t1}'))
                 + len(list_filter(t, x -> x = '{t2}')) AS score,
                   CAST(len(list_filter(t, x -> x = '{t1}')) > 0 AS INT)
                 + CAST(len(list_filter(t, x -> x = '{t2}')) > 0 AS INT) AS rel
            FROM toks"""
        for t1, t2 in _NDCG_QUERIES
    )
    _disc_list = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in _NDCG_DISCOUNTS)
    d["ndcg_eval"] = f"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        judged AS ({_judged}),
        pos AS (
          SELECT query, doc_id, score,
                 CASE WHEN rel = 2 THEN 3 ELSE 1 END AS gain
          FROM judged WHERE rel > 0
        ),
        ranked AS (
          SELECT query, gain,
                 row_number() OVER (PARTITION BY query
                                    ORDER BY score DESC, doc_id ASC) AS rnk,
                 row_number() OVER (PARTITION BY query
                                    ORDER BY gain DESC, doc_id ASC) AS irnk
          FROM pos
        ),
        sums AS (
          SELECT query,
                 SUM(CASE WHEN rnk <= {_NDCG_K}
                          THEN CAST(round(gain * ([{_disc_list}])[rnk], 9)
                                    AS DECIMAL(28,9))
                          ELSE CAST(0 AS DECIMAL(28,9)) END) AS dcg_d,
                 SUM(CASE WHEN irnk <= {_NDCG_K}
                          THEN CAST(round(gain * ([{_disc_list}])[irnk], 9)
                                    AS DECIMAL(28,9))
                          ELSE CAST(0 AS DECIMAL(28,9)) END) AS idcg_d
          FROM ranked GROUP BY query
        )
        SELECT query, CAST(dcg_d AS DOUBLE) AS dcg,
               CASE WHEN idcg_d > 0
                    THEN round(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 6)
                    ELSE 0.0 END AS ndcg
        FROM sums
    """
    # entity_resolution: re-derive the MATCH pairs with the same literal
    # weights, then transitive closure as a recursive CTE (the
    # dedup_clusters oracle pattern) and per-entity aggregates.
    d["entity_resolution"] = f"""
        WITH RECURSIVE
        la AS (SELECT * FROM customer WHERE c_custkey % 2 = 0),
        lb AS (SELECT * FROM customer WHERE c_custkey % 2 = 1),
        matches AS (
          SELECT la.c_custkey AS id_a, lb.c_custkey AS id_b
          FROM la JOIN lb ON la.c_nationkey = lb.c_nationkey
          WHERE round(
                  CASE WHEN la.c_mktsegment = lb.c_mktsegment
                       THEN CAST({_w['segment'][0]!r} AS DOUBLE)
                       ELSE CAST({_w['segment'][1]!r} AS DOUBLE) END
                + CASE WHEN abs(floor(la.c_acctbal) - floor(lb.c_acctbal)) <= 100
                       THEN CAST({_w['bal_band'][0]!r} AS DOUBLE)
                       ELSE CAST({_w['bal_band'][1]!r} AS DOUBLE) END
                + CASE WHEN (la.c_acctbal >= 0) = (lb.c_acctbal >= 0)
                       THEN CAST({_w['bal_sign'][0]!r} AS DOUBLE)
                       ELSE CAST({_w['bal_sign'][1]!r} AS DOUBLE) END,
                6) >= 2.0
        ),
        edges AS (
          SELECT id_a AS s, id_b AS d FROM matches
          UNION SELECT id_b, id_a FROM matches
        ),
        reach AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ),
        clusters AS (
          SELECT c.c_custkey AS node,
                 least(c.c_custkey, coalesce(min(r.d), c.c_custkey)) AS cluster
          FROM customer c LEFT JOIN reach r ON r.s = c.c_custkey
          GROUP BY c.c_custkey
        )
        SELECT cluster AS entity_id, count(*) AS n_records,
               min(node) AS min_key, max(node) AS max_key,
               CAST(SUM(CAST(node % 2 = 0 AS INT)) AS BIGINT) AS n_list_a
        FROM clusters GROUP BY cluster HAVING count(*) > 1
    """
    # stream_ewma_parity: replay the recursion over event-time order as
    # a recursive CTE — rn+1 steps with the SAME repr-interpolated
    # literal doubles the streaming fold multiplies by.
    d["stream_ewma_parity"] = f"""
        WITH RECURSIVE src AS (
          SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_ms(ts), event_id) AS rn
          FROM events WHERE user_id % 4 = 1
        ),
        rec AS (
          SELECT user_id, event_id, value, rn,
                 value AS s, CAST(NULL AS DOUBLE) AS prev_s
          FROM src WHERE rn = 1
          UNION ALL
          SELECT s.user_id, s.event_id, s.value, s.rn,
                 CAST({_EWMA_ALPHA!r} AS DOUBLE) * s.value
                   + CAST({(1.0 - _EWMA_ALPHA)!r} AS DOUBLE) * r.s,
                 r.s
          FROM rec r JOIN src s ON s.user_id = r.user_id AND s.rn = r.rn + 1
        )
        SELECT user_id, event_id, value, round(s, 6) AS ewma,
               CAST(CASE WHEN abs(value - prev_s) > 50 THEN 1 ELSE 0 END
                    AS INT) AS is_anomaly
        FROM rec
    """
    # stream_holt_parity: the same recursive-CTE replay as the EWMA
    # parity, carrying (l, b) state through the recursion; complements
    # injected as Python-computed double reprs, matching the fold.
    d["stream_holt_parity"] = f"""
        WITH RECURSIVE src AS (
          SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_ms(ts), event_id) AS rn
          FROM events WHERE user_id % 4 = 2
        ),
        rec AS (
          SELECT user_id, event_id, value, rn,
                 value AS l, CAST(0.0 AS DOUBLE) AS b
          FROM src WHERE rn = 1
          UNION ALL
          SELECT s.user_id, s.event_id, s.value, s.rn,
                 CAST({_HOLT_ALPHA!r} AS DOUBLE) * s.value
                   + CAST({(1.0 - _HOLT_ALPHA)!r} AS DOUBLE) * (r.l + r.b),
                 CAST({_HOLT_BETA!r} AS DOUBLE)
                   * ((CAST({_HOLT_ALPHA!r} AS DOUBLE) * s.value
                       + CAST({(1.0 - _HOLT_ALPHA)!r} AS DOUBLE) * (r.l + r.b))
                      - r.l)
                   + CAST({(1.0 - _HOLT_BETA)!r} AS DOUBLE) * r.b
          FROM rec r JOIN src s ON s.user_id = r.user_id AND s.rn = r.rn + 1
        )
        SELECT user_id, event_id, value,
               round(l, 6) AS level, round(b, 6) AS trend
        FROM rec
    """
    # jaccard_threshold_sweep: the unfiltered brute-force pair set at
    # >= 0.5, then the same five conditional counts.
    d["jaccard_threshold_sweep"] = r"""
        WITH sub AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        ),
        tk AS (
          SELECT doc_id,
                 unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tok
          FROM sub WHERE length(trim(text)) > 0
        ),
        sizes AS (SELECT doc_id, count(*) AS ns FROM tk GROUP BY doc_id),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
        ),
        common AS (
          SELECT c.id_a, c.id_b, count(*) AS c
          FROM cand c
          JOIN tk a ON a.doc_id = c.id_a
          JOIN tk b ON b.doc_id = c.id_b AND a.tok = b.tok
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT round(c / (sa.ns + sb.ns - c), 6) AS jaccard
          FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(c / (sa.ns + sb.ns - c), 6) >= 0.5
        )
        SELECT CAST(SUM(CAST(jaccard >= 0.5 AS INT)) AS BIGINT) AS ge_50,
               CAST(SUM(CAST(jaccard >= 0.6 AS INT)) AS BIGINT) AS ge_60,
               CAST(SUM(CAST(jaccard >= 0.7 AS INT)) AS BIGINT) AS ge_70,
               CAST(SUM(CAST(jaccard >= 0.8 AS INT)) AS BIGINT) AS ge_80,
               CAST(SUM(CAST(jaccard >= 0.9 AS INT)) AS BIGINT) AS ge_90
        FROM pairs
    """
    # lsh_plan: replays the df-capped unigram jaccard profile source
    # (ngram_jaccard_pairs n=1, max_shingle_df=100 — lowercased \\S+
    # tokens, distinct; candidates generated from df<=100 tokens only;
    # common counted over ALL tokens so survivor jaccard is exact),
    # crossed with the literal (b,r) grid and the S-curve arithmetic.
    d["lsh_plan"] = r"""
        WITH sub AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        ),
        tk AS (
          SELECT doc_id,
                 unnest(list_distinct(regexp_split_to_array(
                     lower(trim(text)), '\s+'))) AS tok
          FROM sub WHERE length(trim(text)) > 0
        ),
        sizes AS (SELECT doc_id, count(*) AS ns FROM tk GROUP BY doc_id),
        dfc AS (SELECT tok, count(*) AS df FROM tk GROUP BY tok),
        rare AS (
          SELECT tk.doc_id, tk.tok FROM tk
          JOIN dfc USING (tok) WHERE dfc.df <= 100
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc_id < b.doc_id
        ),
        common AS (
          SELECT c.id_a, c.id_b, count(*) AS c
          FROM cand c
          JOIN tk a ON a.doc_id = c.id_a
          JOIN tk b ON b.doc_id = c.id_b AND a.tok = b.tok
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT round(c / (sa.ns + sb.ns - c), 6) AS jaccard
          FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(c / (sa.ns + sb.ns - c), 6) >= 0.5
        )""" + """, grid AS (
          SELECT * FROM (VALUES (64, 2), (32, 4), (16, 8), (8, 16)) t(b, r)
        ),
        terms AS (
          SELECT b, r, jaccard,
                 CAST(round(1.0 - pow(1.0 - pow(jaccard, CAST(r AS DOUBLE)),
                                      CAST(b AS DOUBLE)), 9)
                      AS DECIMAL(28,9)) AS p
          FROM pairs CROSS JOIN grid
        )
        SELECT b, r,
               round(pow(1.0 - pow(0.5, 1.0 / b), 1.0 / r), 6) AS s50,
               CAST(SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_above,
               CAST(SUM(CASE WHEN jaccard < 0.7 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_below,
               CASE WHEN SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(SUM(CASE WHEN jaccard >= 0.7 THEN p
                                        ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE)
                          / SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END), 6)
               END AS expected_recall,
               CASE WHEN SUM(CASE WHEN jaccard < 0.7 THEN 1 ELSE 0 END) > 0
                    THEN round(CAST(SUM(CASE WHEN jaccard < 0.7 THEN p
                                        ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE)
                          / SUM(CASE WHEN jaccard < 0.7 THEN 1 ELSE 0 END), 6)
               END AS expected_noise
        FROM terms GROUP BY b, r
    """
    # token_dedup_savings: exact_dedup's normalized key, min-id keeper
    # window, per-source token-mass rollup.
    d["token_dedup_savings"] = r"""
        WITH keyed AS (
          SELECT doc_id AS id, source,
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS k,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                   AS ntok
          FROM documents
        ),
        flagged AS (
          SELECT source, ntok,
                 CAST(min(id) OVER (PARTITION BY k) = id AS BIGINT) AS keep
          FROM keyed
        )
        SELECT source, count(*) AS n_docs,
               CAST(SUM(keep) AS BIGINT) AS n_kept,
               CAST(SUM(ntok) AS BIGINT) AS tokens_total,
               CAST(SUM(ntok * keep) AS BIGINT) AS tokens_kept,
               round(1.0 - CAST(SUM(ntok * keep) AS BIGINT)
                     / CAST(CAST(SUM(ntok) AS BIGINT) AS DOUBLE), 6)
                 AS token_savings
        FROM flagged GROUP BY source
    """
    # calibration_bins: same probe classifier, same quantized bin means.
    _stop_sql = ", ".join(f"'{s}'" for s in _CAL_STOPWORDS)
    d["calibration_bins"] = rf"""
        WITH toks AS (
          SELECT regexp_split_to_array(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        scored AS (
          SELECT round(len(list_filter(t, x -> list_contains([{_stop_sql}], x)))
                       / CAST(len(t) AS DOUBLE), 9) AS p,
                 CAST(len(list_filter(t, x -> x = 'the')) >= 2 AS INT) AS y
          FROM toks WHERE len(t) > 0
        ),
        grouped AS (
          SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin,
                 count(*) AS n,
                 SUM(CAST(round(p, 9) AS DECIMAL(28,9))) AS sp,
                 CAST(SUM(y) AS BIGINT) AS sy
          FROM scored GROUP BY 1
        ),
        tot AS (SELECT SUM(n) AS n_total FROM grouped)
        SELECT bin, n,
               round(CAST(sp AS DOUBLE) / n, 6) AS confidence,
               round(CAST(sy AS DOUBLE) / n, 6) AS accuracy,
               round((n / CAST(n_total AS DOUBLE))
                     * abs(CAST(sy AS DOUBLE) / n - CAST(sp AS DOUBLE) / n), 6)
                 AS ece_term
        FROM grouped CROSS JOIN tot
    """
    # lorenz_deciles: same cutpoints (quantile_cont == percentile),
    # same greater-than bucketing, same decile-grid cumulative shares.
    d["lorenz_deciles"] = """
        WITH per_key AS (
          SELECT user_id AS k,
                 SUM(CAST(round(value * 100) AS BIGINT)) AS cents
          FROM events GROUP BY user_id
        ),
        cuts AS (
          SELECT quantile_cont(cents, 0.1) AS c1, quantile_cont(cents, 0.2) AS c2,
                 quantile_cont(cents, 0.3) AS c3, quantile_cont(cents, 0.4) AS c4,
                 quantile_cont(cents, 0.5) AS c5, quantile_cont(cents, 0.6) AS c6,
                 quantile_cont(cents, 0.7) AS c7, quantile_cont(cents, 0.8) AS c8,
                 quantile_cont(cents, 0.9) AS c9
          FROM per_key
        ),
        deciles AS (
          SELECT 1 + CAST(cents > c1 AS INT) + CAST(cents > c2 AS INT)
                   + CAST(cents > c3 AS INT) + CAST(cents > c4 AS INT)
                   + CAST(cents > c5 AS INT) + CAST(cents > c6 AS INT)
                   + CAST(cents > c7 AS INT) + CAST(cents > c8 AS INT)
                   + CAST(cents > c9 AS INT) AS decile,
                 count(*) AS n_keys,
                 CAST(SUM(cents) AS BIGINT) AS cents
          FROM per_key CROSS JOIN cuts
          GROUP BY 1
        ),
        tot AS (SELECT SUM(cents) AS t FROM deciles)
        SELECT decile, n_keys, cents,
               round(CAST(SUM(cents) OVER (ORDER BY decile
                                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     / CAST(t AS DOUBLE), 6) AS cum_share
        FROM deciles CROSS JOIN tot
    """
    # format_roundtrip: the parquet-derived truth, one row per format —
    # equality proves both codec round-trips lossless.
    d["format_roundtrip"] = """
        WITH agg AS (
          SELECT event_type, count(*) AS n,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
                 min(event_id) AS min_id, max(event_id) AS max_id
          FROM events GROUP BY event_type
        )
        SELECT f.fmt, a.event_type, a.n, a.sum_cents, a.min_id, a.max_id
        FROM agg a CROSS JOIN (VALUES ('orc'), ('json')) AS f(fmt)
    """
    # srm_check: distinct units per arm, same 0.5-literal expectations.
    d["srm_check"] = """
        WITH counts AS (
          SELECT CASE WHEN user_id % 2 = 0 THEN 'treatment' ELSE 'control' END AS arm,
                 count(DISTINCT user_id) AS n_units
          FROM events GROUP BY 1
        ),
        tot AS (SELECT SUM(n_units) AS n_total FROM counts)
        SELECT arm, CAST(n_units AS BIGINT) AS n_units,
               round(n_units / CAST(n_total AS DOUBLE), 6) AS obs_share,
               CAST(0.5 AS DOUBLE) AS exp_share,
               round(pow(n_units - 0.5 * n_total, 2) / (0.5 * n_total), 6)
                 AS chi2_term
        FROM counts CROSS JOIN tot
    """
    # overdispersion: same exact daily-count moments, same formula order.
    d["overdispersion"] = """
        WITH daily AS (
          SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        m AS (
          SELECT g, count(*) AS n_days,
                 SUM(c) AS sx, SUM(c * c) AS sxx
          FROM daily GROUP BY g
        )
        SELECT g AS event_type, CAST(n_days AS BIGINT) AS n_days,
               round(CAST(sx AS DOUBLE) / n_days, 6) AS mean_daily,
               round((n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / (n_days * (n_days - 1)), 6) AS var_daily,
               round(((n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      / (n_days * (n_days - 1)))
                     / (CAST(sx AS DOUBLE) / n_days), 6) AS dispersion
        FROM m
    """
    # cusum_drift: same hourly means, same max/add fold via list_reduce.
    d["cusum_drift"] = """
        WITH hours AS (
          SELECT epoch_ms(ts) // 3600000 AS hour, count(*) AS n,
                 round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*), 6) AS hour_mean
          FROM events GROUP BY 1
        ),
        drifts AS (
          SELECT hour, n, hour_mean,
                 list(round(hour_mean - 50.0 - 5.0, 6))
                   OVER (ORDER BY hour ROWS UNBOUNDED PRECEDING) AS ds
          FROM hours
        )
        SELECT hour, n, hour_mean,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ds),
                                 (a, b) -> greatest(CAST(0.0 AS DOUBLE), a + b)),
                     6) AS cusum,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ds),
                                 (a, b) -> greatest(CAST(0.0 AS DOUBLE), a + b)),
                     6) > 100.0 AS flagged
        FROM drifts
    """
    # km_survival: same day grid, same suffix at-risk sums, and the
    # SAME left-to-right factor fold via list_reduce.
    d["km_survival"] = """
        WITH last_day AS (
          SELECT user_id, CAST(max(epoch_ms(ts)) // 86400000 AS BIGINT) AS day
          FROM events GROUP BY user_id
        ),
        deaths AS (SELECT day, count(*) AS churned FROM last_day GROUP BY day),
        risk AS (
          SELECT day, churned,
                 CAST(SUM(churned) OVER (ORDER BY day DESC
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS n_at_risk
          FROM deaths
        ),
        factors AS (
          SELECT day, churned, n_at_risk,
                 list(round(1.0 - churned / CAST(n_at_risk AS DOUBLE), 12))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS fs
          FROM risk
        )
        SELECT day, churned, n_at_risk,
               round(list_reduce(list_prepend(CAST(1.0 AS DOUBLE), fs),
                                 (a, b) -> a * b), 6) AS survival
        FROM factors
    """
    # diff_in_diff: the same four conditional cells from one scan.
    d["diff_in_diff"] = f"""
        WITH cells AS (
          SELECT
            SUM(CASE WHEN user_id % 2 = 0 AND epoch_ms(ts) <  {_DID_CUTOVER_MS} THEN 1 ELSE 0 END) AS n_t_pre,
            SUM(CASE WHEN user_id % 2 = 0 AND epoch_ms(ts) >= {_DID_CUTOVER_MS} THEN 1 ELSE 0 END) AS n_t_post,
            SUM(CASE WHEN user_id % 2 = 1 AND epoch_ms(ts) <  {_DID_CUTOVER_MS} THEN 1 ELSE 0 END) AS n_c_pre,
            SUM(CASE WHEN user_id % 2 = 1 AND epoch_ms(ts) >= {_DID_CUTOVER_MS} THEN 1 ELSE 0 END) AS n_c_post,
            SUM(CASE WHEN user_id % 2 = 0 AND epoch_ms(ts) <  {_DID_CUTOVER_MS} THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS s_t_pre,
            SUM(CASE WHEN user_id % 2 = 0 AND epoch_ms(ts) >= {_DID_CUTOVER_MS} THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS s_t_post,
            SUM(CASE WHEN user_id % 2 = 1 AND epoch_ms(ts) <  {_DID_CUTOVER_MS} THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS s_c_pre,
            SUM(CASE WHEN user_id % 2 = 1 AND epoch_ms(ts) >= {_DID_CUTOVER_MS} THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS s_c_post
          FROM events
        )
        SELECT CAST(n_t_pre AS BIGINT) AS n_t_pre,
               CAST(n_t_post AS BIGINT) AS n_t_post,
               CAST(n_c_pre AS BIGINT) AS n_c_pre,
               CAST(n_c_post AS BIGINT) AS n_c_post,
               round(CAST(s_t_pre  AS DOUBLE) / n_t_pre  / 100.0, 6) AS mean_t_pre,
               round(CAST(s_t_post AS DOUBLE) / n_t_post / 100.0, 6) AS mean_t_post,
               round(CAST(s_c_pre  AS DOUBLE) / n_c_pre  / 100.0, 6) AS mean_c_pre,
               round(CAST(s_c_post AS DOUBLE) / n_c_post / 100.0, 6) AS mean_c_post,
               round((CAST(s_t_post AS DOUBLE) / n_t_post / 100.0
                      - CAST(s_t_pre AS DOUBLE) / n_t_pre / 100.0)
                     - (CAST(s_c_post AS DOUBLE) / n_c_post / 100.0
                        - CAST(s_c_pre AS DOUBLE) / n_c_pre / 100.0), 6) AS did
        FROM cells
    """
    # column_entropy: same unpivot, same quantized p*ln(p) terms.
    d["column_entropy"] = """
        WITH pairs AS (
          SELECT 'o_orderstatus' AS col, CAST(o_orderstatus AS VARCHAR) AS value FROM orders
          UNION ALL
          SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
          UNION ALL
          SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        ),
        freq AS (
          SELECT col, value, count(*) AS n FROM pairs GROUP BY col, value
        ),
        tot AS (SELECT col, SUM(n) AS n_total FROM freq GROUP BY col)
        SELECT f.col, CAST(max(t.n_total) AS BIGINT) AS n_rows,
               count(*) AS n_distinct,
               round(-CAST(SUM(CAST(round((f.n / t.n_total)
                                          * ln(f.n / t.n_total), 12)
                                    AS DECIMAL(28,12))) AS DOUBLE), 6)
                 AS entropy_nats
        FROM freq f JOIN tot t USING (col)
        GROUP BY f.col
    """
    # winnow_pairs: replay 4-gram positions, the polynomial hash folded
    # to 40 bits, the packed-key per-window minima, and the pairing.
    d["winnow_pairs"] = rf"""
        WITH toks AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        grams AS (
          SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
                 array_to_string(t[u.i:u.i+3], ' ') AS gram
          FROM toks, unnest(range(1, len(t) - 2)) AS u(i)
          WHERE len(t) >= 4
        ),
        hashed AS (
          SELECT doc_id, pos,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(gram, ''),
                     c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % {_SIMHASH_POLY_MOD})
                 % 1099511627776 AS h
          FROM grams
        ),
        keyed AS (
          SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS key
          FROM hashed
        ),
        sel AS (
          SELECT DISTINCT doc_id AS id,
                 (min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
                 // 1048576 AS fingerprint
          FROM keyed
        )
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fps
        FROM sel a JOIN sel b
          ON a.fingerprint = b.fingerprint AND a.id < b.id
        GROUP BY 1, 2 HAVING count(*) >= 3
    """
    # backfill_plan: the sink holds even-numbered months by the pinned
    # rule, so the missing set is the odd-numbered distinct months.
    d["backfill_plan"] = """
        SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
        FROM orders
        WHERE month(o_orderdate) % 2 = 1
    """
    # theil_sen_trend: same bounded daily aggregate, same pairwise
    # slopes, same interpolated median.
    d["theil_sen_trend"] = """
        WITH daily AS (
          SELECT strftime(o_orderdate, '%Y-%m') AS month,
                 epoch_ms(o_orderdate) // 86400000 AS day,
                 SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a.month,
                 CAST(b.cents - a.cents AS DOUBLE)
                   / CAST(b.day - a.day AS DOUBLE) AS slope
          FROM daily a JOIN daily b ON a.month = b.month AND a.day < b.day
        )
        SELECT month, count(*) AS n_pairs,
               round(quantile_cont(slope, 0.5), 6) AS slope
        FROM pairs GROUP BY month
    """
    # gini_concentration: identical ranking tiebreak, HUGEINT-exact
    # integer sums cast to double only for the final ratio.
    d["gini_concentration"] = """
        WITH r AS (
          SELECT event_type,
                 CAST(floor(value * 100) AS BIGINT) AS cents,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(floor(value * 100) AS BIGINT), event_id
                 ) AS rnk
          FROM events
        )
        SELECT event_type, count(*) AS n,
               round(
                 CAST(2 * SUM(rnk * cents) - (count(*) + 1) * SUM(cents) AS DOUBLE)
                 / CAST(count(*) * SUM(cents) AS DOUBLE), 6) AS gini
        FROM r GROUP BY event_type
    """
    # benford_audit: digit from the integer part's decimal string; the
    # expected shares are the same repr-interpolated literals.
    from nnanalytics_spark.pipeline.stats import BENFORD_SHARES

    _benford = ", ".join(f"CAST({s!r} AS DOUBLE)" for s in BENFORD_SHARES)
    d["benford_audit"] = f"""
        WITH digits AS (
          SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                 count(*) AS n_obs
          FROM orders WHERE o_totalprice >= 1
          GROUP BY 1
        ),
        tot AS (SELECT SUM(n_obs) AS n_total FROM digits)
        SELECT digit, n_obs,
               round(n_obs / n_total, 6) AS obs_share,
               round(([{_benford}])[digit], 6) AS exp_share,
               round(pow(n_obs - ([{_benford}])[digit] * n_total, 2)
                     / (([{_benford}])[digit] * n_total), 6) AS chi2_term
        FROM digits CROSS JOIN tot
    """
    # data_contract: five scalar counts over one table, one SELECT per
    # rule (the oracle's clarity beats its plan; Spark does one pass).
    d["data_contract"] = """
        WITH n AS (SELECT count(*) AS n_checked FROM orders)
        SELECT r.rule, r.n_violations, n.n_checked,
               r.n_violations = 0 AS passed
        FROM (
          SELECT 'totalprice_positive' AS rule,
                 count(*) FILTER (WHERE o_totalprice <= 0 OR o_totalprice IS NULL) AS n_violations
          FROM orders
          UNION ALL
          SELECT 'orderdate_not_null',
                 count(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
          UNION ALL
          SELECT 'status_in_domain',
                 count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                                     OR o_orderstatus IS NULL) FROM orders
          UNION ALL
          SELECT 'priority_has_rank',
                 count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')
                                     OR o_orderpriority IS NULL) FROM orders
          UNION ALL
          SELECT 'custkey_positive',
                 count(*) FILTER (WHERE o_custkey <= 0 OR o_custkey IS NULL) FROM orders
        ) r CROSS JOIN n
    """
    # mad_outliers: two interpolated medians (quantile_cont == Spark
    # percentile) pinned at 6 dp, then identical modified-z counting.
    d["mad_outliers"] = """
        WITH med AS (
          SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 6) AS med
          FROM lineitem GROUP BY l_returnflag
        ),
        mad AS (
          SELECT l.l_returnflag, m.med,
                 round(quantile_cont(abs(l.l_extendedprice - m.med), 0.5), 6) AS mad
          FROM lineitem l JOIN med m USING (l_returnflag)
          GROUP BY l.l_returnflag, m.med
        )
        SELECT l.l_returnflag, d.med, d.mad, count(*) AS n,
               CAST(SUM(CASE WHEN abs(0.6745 * (l.l_extendedprice - d.med) / d.mad) > 3.5
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               round(max(abs(0.6745 * (l.l_extendedprice - d.med) / d.mad)), 6) AS max_rz
        FROM lineitem l JOIN mad d USING (l_returnflag)
        GROUP BY l.l_returnflag, d.med, d.mad
    """
    # emd_drift: same bucket grid, running CDFs, quantized |delta| terms.
    d["emd_drift"] = """
        WITH cells AS (
          SELECT floor(value / 5.0) AS bucket,
                 SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_a,
                 SUM(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END) AS n_b
          FROM events GROUP BY 1
        ),
        tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM cells),
        steps AS (
          SELECT CAST(round(abs(SUM(n_a) OVER w / ta - SUM(n_b) OVER w / tb)
                            * COALESCE(lead(bucket) OVER (ORDER BY bucket) - bucket, 0)
                            * 5.0, 9)
                      AS DECIMAL(28,9)) AS term
          FROM cells CROSS JOIN tot
          WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        )
        SELECT CAST(SUM(term) AS DOUBLE) AS emd FROM steps
    """
    # prefix_filter_pairs: the oracle generates candidates with NO
    # prefix filter (any shared token) — result equality proves the
    # prefix bound loses nothing.
    d["prefix_filter_pairs"] = r"""
        WITH sub AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        ),
        toks AS (
          SELECT doc_id,
                 unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tok
          FROM sub WHERE length(trim(text)) > 0
        ),
        tk AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
        sizes AS (SELECT doc_id, count(*) AS ns FROM tk GROUP BY doc_id),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
        ),
        common AS (
          SELECT c.id_a, c.id_b, count(*) AS c
          FROM cand c
          JOIN tk a ON a.doc_id = c.id_a
          JOIN tk b ON b.doc_id = c.id_b AND a.tok = b.tok
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, sa.ns AS size_a, sb.ns AS size_b,
               round(c / (sa.ns + sb.ns - c), 6) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(c / (sa.ns + sb.ns - c), 6) >= 0.8
    """
    # skyline_frontier: the textbook O(n²) NOT-EXISTS dominance join —
    # the n log n window plan must emit the identical frontier.
    d["skyline_frontier"] = """
        SELECT x.p_partkey, x.p_brand, x.p_retailprice, x.p_size
        FROM part x
        WHERE NOT EXISTS (
          SELECT 1 FROM part y
          WHERE y.p_brand = x.p_brand
            AND y.p_retailprice <= x.p_retailprice
            AND y.p_size >= x.p_size
            AND (y.p_retailprice < x.p_retailprice OR y.p_size > x.p_size)
        )
    """
    return d
