"""Distributed statistics over the event log — trend fits, independence
tests, robust (winsorized) summaries.

Every statistic here is derived from EXACT integer (or DECIMAL) moments
aggregated in one pass, with the floating-point formula applied only to
the finished moments. That discipline is what makes the results
bit-identical across engines and partitionings: builtin stddev/corr
accumulate float state in partition order (fine for analysis, fatal for
a value-hash oracle), while Σx, Σy, Σxy, Σx², Σy² over integers are
order-free. It is also the faster plan — the moment aggregate combines
map-side, so one reducer row per group crosses the wire.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def trend_by_group(
    events: DataFrame,
    group: str = "event_type",
    ts: str = "ts_us",
    value: str = "value",
) -> DataFrame:
    """Per-group least-squares linear trend of ``value`` over time:
    slope (per hour), intercept, and Pearson r — the monitoring query
    behind every "is this metric drifting?" dashboard.

    x = whole hours since the global minimum timestamp (small exact
    integers), y = value in cents (exact integers), so all five moments
    are integer sums in DECIMAL and the OLS formula

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    runs on exact operands. One scalar pre-pass for min(ts) (broadcast),
    one grouped moment aggregate — two scans of one column each, no
    window, no UDF.
    """
    mn = events.agg(F.min(ts).alias("mn"))
    # explicit floor, not a bare cast: Spark's double→long cast truncates
    # while other engines round, and the oracle must replay this exactly
    x = F.floor((F.col(ts) - F.col("mn")) / 3_600_000_000.0).cast("long")
    y = F.round(F.col(value) * 100).cast("long")
    d38 = "decimal(38,0)"
    moments = (
        events.crossJoin(F.broadcast(mn))
        .select(F.col(group), x.alias("x"), y.alias("y"))
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast(d38)).alias("sx"),
            F.sum(F.col("y").cast(d38)).alias("sy"),
            # cast each FACTOR to DECIMAL before multiplying: a LONG
            # product of large cent values wraps silently under
            # non-ANSI Spark while the oracle errors/differs — the
            # per-factor rule the module header documents
            F.sum(F.col("x").cast(d38) * F.col("y").cast(d38)).alias("sxy"),
            F.sum(F.col("x").cast(d38) * F.col("x").cast(d38)).alias("sxx"),
            F.sum(F.col("y").cast(d38) * F.col("y").cast(d38)).alias("syy"),
        )
    )
    n, sx, sy = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    sxy, sxx, syy = [F.col(c).cast("double") for c in ("sxy", "sxx", "syy")]
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    # Degenerate groups (singleton, or constant x / constant y) have no
    # defined slope/r — emit NULL, never divide: under ANSI mode the bare
    # division is a hard DIVIDE_BY_ZERO that kills the whole query on
    # the first rare group.
    slope_g = F.when(var_x > 0, slope)
    return moments.select(
        group,
        F.col("n"),
        F.round(slope_g / 100.0, 6).alias("slope_per_hour"),  # cents → units
        F.round((sy / n - slope_g * sx / n) / 100.0, 6).alias("intercept"),
        F.round(
            F.when(var_x * var_y > 0, cov_n / F.sqrt(var_x * var_y)), 6
        ).alias("pearson_r"),
    )


def chi_square_independence(
    events: DataFrame,
    dim_a: str = "event_type",
    dim_b_hours: str = "ts_us",
    buckets: int = 24,
) -> DataFrame:
    """Chi-square test of independence between an event dimension and
    hour-of-day: Χ² = Σ (observed − expected)² / expected over the
    |A|×|buckets| contingency table, with expected cells from the
    margins. One log pass builds the (a, b) counts; the margins and the
    statistic are windows/aggregates over the tiny table. Returns ONE
    row: (chi2, dof, cells) — compare chi2 against the critical value
    for dof at your α; the engine reports the statistic, not a p-value
    (no stats tables in either engine).

    All counts are exact integers; expected = row_total·col_total/N is
    the same double expression on both engines.
    """
    from pyspark.sql import Window as W

    b = (
        F.floor(F.col(dim_b_hours) / 3_600_000_000.0).cast("long") % buckets
    ).alias("b")
    table = events.groupBy(F.col(dim_a).alias("a"), b).agg(
        F.count(F.lit(1)).alias("o")
    )
    row_t = F.sum("o").over(W.partitionBy("a"))
    col_t = F.sum("o").over(W.partitionBy("b"))
    grand = F.sum("o").over(W.partitionBy())
    cell = table.select(
        "a", "b", "o", (row_t.cast("double") * col_t / grand).alias("e")
    )
    dev = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return cell.agg(
        F.round(F.sum(dev), 6).alias("chi2"),
        ((F.count_distinct("a") - 1) * (F.count_distinct("b") - 1)).alias("dof"),
        F.count(F.lit(1)).alias("cells"),
    )


def winsorized_stats(
    events: DataFrame,
    group: str = "event_type",
    value: str = "value",
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Robust per-group summary: clamp values to the group's exact
    [p5, p95] interpolated percentiles, then mean/min/max over the
    clamped column — the outlier-resistant mean a metrics pipeline
    reports next to the raw one.

    Two aggregates over the same keyed exchange: percentile bounds per
    group, broadcast back (|groups| rows), then the clamped rollup.
    Clamped sums go through DECIMAL so the mean is order-free.
    """
    bounds = events.groupBy(group).agg(
        F.percentile(value, F.lit(lower)).alias("lo"),
        F.percentile(value, F.lit(upper)).alias("hi"),
    )
    clamped = events.join(F.broadcast(bounds), group).select(
        F.col(group),
        F.least(F.greatest(F.col(value), F.col("lo")), F.col("hi")).alias("v"),
    )
    return clamped.groupBy(group).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("winsorized_mean"),
        F.round(F.min("v"), 6).alias("clamp_lo"),
        F.round(F.max("v"), 6).alias("clamp_hi"),
    )


def cohens_kappa(df: DataFrame, rater_a, rater_b) -> DataFrame:
    """Cohen's kappa between two boolean raters — the agreement gate a
    labeling pipeline runs before trusting auto-labels (rater vs rater,
    heuristic vs classifier, model vs model).

    One conditional-aggregate scan collects the whole 2x2 confusion
    table (n, a1, b1, n11, n00); kappa then has a closed RATIONAL form:

        kappa = (n*agree - a1*b1 - a0*b0) / (n*n - a1*b1 - a0*b0)

    with agree = n11 + n00, a0 = n - a1, b0 = n - b1 — so it is emitted
    as exact integer MICROS, not a float. Because kappa can be negative
    and Spark's ``DIV`` truncates while other engines floor, the micro
    division runs on the +4-shifted value (kappa >= -4 holds whenever
    pe <= 0.8, far beyond any sane rater pair; the shift cancels exactly
    after the division since it adds an integer multiple of the
    denominator). All operands stay far inside int64 for n up to ~10^6
    per group; past that, cast the products to DECIMAL(38,0) — the
    moment discipline at the top of this module.
    """
    a = rater_a.cast("boolean")
    b = rater_b.cast("boolean")
    conf = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(a.cast("long")).alias("a1"),
        F.sum(b.cast("long")).alias("b1"),
        F.sum((a & b).cast("long")).alias("n11"),
        F.sum((~a & ~b).cast("long")).alias("n00"),
    )
    chance = F.col("a1") * F.col("b1") + (F.col("n") - F.col("a1")) * (
        F.col("n") - F.col("b1")
    )
    rational = conf.select(
        "n",
        "a1",
        "b1",
        "n11",
        "n00",
        (F.col("n") * (F.col("n11") + F.col("n00")) - chance).alias("num"),
        (F.col("n") * F.col("n") - chance).alias("den"),
    )
    return rational.select(
        "n",
        "a1",
        "b1",
        "n11",
        "n00",
        # den = 0 iff both raters are constant (chance agreement = 1):
        # kappa is undefined — NULL, never an ANSI divide error
        F.when(
            F.col("den") != 0,
            F.expr("(1000000 * (num + 4 * den)) DIV den - 4000000"),
        ).alias("kappa_micros"),
    )


def zipf_slope(
    docs: DataFrame, top_n: int = 500, text_col: str = "text"
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: OLS slope of
    ln(count) on ln(rank) for the top_n terms, plus the fit's Pearson
    r². Natural-language corpora sit near slope −1; template/boilerplate
    corpora flatten toward 0 and machine noise steepens — a one-row
    corpus-health diagnostic for training-data curation.

    Plan: one tokenize + term-keyed count (vocabulary-bounded key
    space, map-side combine), a rank window over that vocab-sized
    table with the engine-independent (count desc, term) tie-break,
    then one moment aggregate over top_n rows. ln(rank) and ln(count)
    are rounded to 9 dp and quantized to DECIMAL(20,9) BEFORE the
    moment products (the trend_by_group discipline), so Σx, Σy, Σxy,
    Σx², Σy² are exact and add-order-free; slope and r² emerge as the
    IEEE quotient of two exactly-determined doubles — identical in any
    engine."""
    from pyspark.sql.window import Window

    from .text import tokens

    tf = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # orderBy+limit plans as a distributed TakeOrdered (per-partition
    # top-n, driver merge of n-row heads) — the global row_number window
    # then only ever sees top_n rows, never the full vocabulary in one
    # task. (c desc, term) is a total order, so the cut is deterministic.
    top = tf.orderBy(F.col("c").desc(), "term").limit(top_n)
    w = Window.orderBy(F.col("c").desc(), "term")
    ranked = top.withColumn("r", F.row_number().over(w))
    # ln(rank), ln(count) < ~30, so DECIMAL(12,9) holds them exactly and
    # the product stays at precision 25/scale 18 — inside 38 on BOTH
    # engines, so neither silently reduces scale (the tfidf_top_terms
    # overflow trap).
    d129 = "decimal(12,9)"
    x = F.round(F.log(F.col("r").cast("double")), 9).cast(d129)
    y = F.round(F.log(F.col("c").cast("double")), 9).cast(d129)
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,18)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,18)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,18)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return m.select(
        "n",
        F.round(cov / varx, 6).alias("slope"),
        F.round((cov * cov) / (varx * vary), 6).alias("r2"),
    )


def ks_two_sample(
    events: DataFrame,
    group_a: str = "click",
    group_b: str = "purchase",
    group: str = "event_type",
    value: str = "value",
    grid_cents: int | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between two groups'
    value distributions — the drift/shift detector behind "did this
    source's quality-score distribution move?" monitoring. D is the sup
    of |F_a − F_b| over observed values; computed EXACTLY as integers:
    D = max |cum_a·n_b − cum_b·n_a| / (n_a·n_b), so the emitted numbers
    are engine-identical (a float-ECDF subtraction is not).

    Values are quantized to cents (floor(value·100)) first — the KS
    sup over a quantized grid equals the sup of the quantized ECDFs,
    and integer grid points are exact join/window keys. Plan: one
    filtered scan to (cents, is_a) counts (map-side combine), a
    prefix-sum window over |distinct cents| rows ordered by cents, one
    max. The window is unpartitioned but value-domain-bounded — cents
    of a bounded metric, not corpus rows.

    For UNBOUNDED or continuous value domains (where distinct cents
    would approach row count and funnel the corpus through one window
    task) pass ``grid_cents``: values coarsen to fixed buckets of that
    width (key = floor(cents / grid_cents)), capping the window input
    at |domain| / grid_cents rows regardless of data size. The emitted
    D is then EXACTLY the KS statistic of the bucket-quantized
    distributions — the same sup-equality argument as the cents
    quantization, one level coarser: both ECDFs are evaluated at every
    bucket boundary, and between boundaries neither changes, so the sup
    over boundaries IS the sup over the quantized line. (It lower-bounds
    the continuous-value D by at most the largest per-bucket mass
    imbalance; pick grid_cents so that bound is acceptable for the
    drift alarm.)"""
    from pyspark.sql.window import Window

    key = F.floor(F.col(value) * 100)
    if grid_cents is not None:
        if grid_cents <= 0:
            raise ValueError(f"grid_cents must be positive, got {grid_cents}")
        key = F.floor(key / grid_cents)
    f = events.filter(F.col(group).isin([group_a, group_b])).select(
        key.alias("cents"),
        (F.col(group) == group_a).alias("is_a"),
    )
    counts = f.groupBy("cents").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    # the numerator needs the totals n_a/n_b at every row: carry them as
    # an unbounded-window max over the same (single-partition, bounded)
    # cumulative table rather than a second scan of the log
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    with_tot = cum.select(
        "cum_a",
        "cum_b",
        F.max("cum_a").over(wt).alias("n_a"),
        F.max("cum_b").over(wt).alias("n_b"),
    )
    num = with_tot.groupBy("n_a", "n_b").agg(
        F.max(
            F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
        ).alias("d_num")
    )
    return num.select(
        "n_a",
        "n_b",
        "d_num",
        (F.col("n_a") * F.col("n_b")).alias("d_den"),
        (
            F.col("d_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("d_stat"),
    )


def mutual_information(
    df: DataFrame, x: str, y: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, plus
    both marginal entropies — the dependence audit for corpus metadata
    ("does source determine language? is the quality label leaking the
    shard id?"). MI ≈ 0 says the columns are independent; MI close to
    min(H_x, H_y) says one nearly determines the other.

    Exactness: ONE pass over the data builds the (x, y) contingency
    counts (map-side combine; output is |X|·|Y| cells, metadata-sized);
    marginals and totals derive from those cells, never a second scan.
    Every p·ln(·) term is rounded to 6 dp and summed as DECIMAL(18,6)
    (the char_entropy hardening) so the emitted numbers are add-order
    independent and engine-exact."""
    cells = df.groupBy(
        F.col(x).alias("xv"), F.col(y).alias("yv")
    ).agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql.window import Window

    # the cell table is |X|x|Y| rows — windows over it are deliberate
    wx = Window.partitionBy("xv")
    wy = Window.partitionBy("yv")
    wall = Window.partitionBy()
    cx = F.sum("c").over(wx)
    cy = F.sum("c").over(wy)
    n = F.sum("c").over(wall)
    p = F.col("c").cast("double") / n.cast("double")
    mi_term = F.round(
        p * F.log(F.col("c").cast("double") * n.cast("double")
                  / (cx.cast("double") * cy.cast("double"))),
        6,
    ).cast("decimal(18,6)")
    ent = lambda cnt, tot: F.round(  # noqa: E731
        -(cnt.cast("double") / tot.cast("double"))
        * F.log(cnt.cast("double") / tot.cast("double")),
        6,
    ).cast("decimal(18,6)")
    # Marginal entropy terms must count once per marginal VALUE, not per
    # cell — designate ONE cell per marginal value (its minimum partner)
    # instead of branching into distinct() sub-plans, which would
    # re-derive (and re-scan) the contingency table per branch: this
    # keeps the whole statistic ONE scan + one final aggregate.
    scored = cells.select(
        "xv", "yv", "c",
        mi_term.alias("mi_t"),
        F.when(F.col("yv") == F.min("yv").over(wx), ent(cx, n)).alias("hx_t"),
        F.when(F.col("xv") == F.min("xv").over(wy), ent(cy, n)).alias("hy_t"),
        n.alias("n"),
    )
    return scored.agg(
        F.max("n").alias("n_rows"),
        F.count_distinct("xv").alias("n_x"),
        F.count_distinct("yv").alias("n_y"),
        F.sum("mi_t").cast("double").alias("mi_nats"),
        F.sum("hx_t").cast("double").alias("h_x_nats"),
        F.sum("hy_t").cast("double").alias("h_y_nats"),
    )


def psi_drift(
    df: DataFrame,
    value: str = "value",
    ts_ms: str = "ts_ms",
    bucket_cents: int = 5000,
    n_buckets: int = 12,
) -> DataFrame:
    """Population-stability-index drift report: the value distribution of
    the time range's FIRST half vs its SECOND half over fixed-width cent
    buckets — the standard go/no-go monitor before a model retrain or a
    pipeline cutover (PSI < 0.1 stable, > 0.25 drifted).

    Per bucket: counts in each half and the PSI term
    (p−q)·ln(p/q) with Laplace-smoothed shares p=(n_a+1)/(A+B_n),
    q=(n_b+1)/(B+B_n) — smoothing keeps empty buckets finite AND
    deterministic (no epsilon tuning). Terms round to 6 dp; the total is
    Σ terms (asserted in tests, emitted per-bucket so the report shows
    WHERE the drift lives).

    Plan: one scan → one (half, bucket) aggregate (≤ 2·n_buckets rows)
    → broadcast totals join. The midpoint split derives from min/max
    epoch-days (integer arithmetic), not wall-clock."""
    days = df.select(
        F.expr(f"{ts_ms} div 86400000").alias("day"),
        # clamp into [0, n_buckets): negative values land in bucket 0
        # instead of minting per-value negative buckets
        F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.lit(n_buckets - 1).cast("long"),
                F.floor(
                    F.floor(F.col(value) * 100) / F.lit(bucket_cents)
                ).cast("long"),
            ),
        ).alias("bucket"),
    )
    bounds = days.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    halves = days.crossJoin(F.broadcast(bounds)).select(
        "bucket",
        F.when(
            F.col("day") < (F.col("d0") + F.col("d1") + 1) / 2, F.lit("a")
        ).otherwise(F.lit("b")).alias("half"),
    )
    cells = halves.groupBy("bucket").agg(
        F.sum(F.when(F.col("half") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("half") == "b", 1).otherwise(0)).alias("n_b"),
    )
    tot = cells.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .withColumn("p", (F.col("n_a") + 1) / (F.col("ta") + n_buckets))
        .withColumn("q", (F.col("n_b") + 1) / (F.col("tb") + n_buckets))
        .withColumn(
            "psi_term",
            F.round((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 6),
        )
        .select("bucket", "n_a", "n_b", "psi_term")
    )


def skyline(
    df: DataFrame,
    minimize: str,
    maximize: str,
    group_cols: list[str] | None = None,
    id_col: str = "id",
    bucket_width: float | None = None,
) -> DataFrame:
    """Pareto frontier (the skyline operator, Börzsönyi et al. 2001):
    the rows not DOMINATED by any other row of the same group, where y
    dominates x iff y.minimize <= x.minimize AND y.maximize >= x.maximize
    with at least one strict. The naive formulation is an O(n²)
    NOT-EXISTS self-join (that is exactly what the oracle runs); this
    plan is one aggregate + one group-partitioned window + one equi-join
    back — n log n per group, never pairwise:

    - collapse to price LEVELS: per (group, minimize) keep max(maximize)
      — any row below its level max is dominated at equal cost;
    - over levels ordered by minimize ascending, a prefix max of the
      level maxima: every earlier level has STRICTLY smaller minimize
      (levels are distinct), so prefix_max >= x.maximize means a
      cheaper-or-equal, at-least-as-good row exists with the strict
      part on the minimize axis — dominated;
    - join levels back on (group, minimize) and keep rows at their
      level max and above the prefix max.

    The window partitions by the GROUP columns, so no single-task global
    sort; skew is bounded by the largest group, same contract as every
    grouped window in the engine. Ties survive: two rows with identical
    (minimize, maximize) dominate neither and both stay on the frontier
    — matching the NOT-EXISTS semantics bit for bit.

    UNGROUPED mode (``group_cols`` empty) needs one more decision,
    because the prefix max then partitions by nothing and the level
    table is bounded only by |distinct minimize| — ~n rows through one
    window task for a continuous column (the KS trap that grew
    ks_test_grid). Pass ``bucket_width`` to decompose the global prefix
    scan EXACTLY (VERDICT r6 #5): levels bucket by
    floor(minimize/width); per-bucket maxima feed a |buckets|-bounded
    carry window (the lint-waiver class: window over a bounded grid);
    each bucket then scans its own levels in parallel with the carried
    max from all earlier buckets. Same frontier bit for bit — buckets
    only split the sort, never the dominance test. Without
    ``bucket_width`` the single-task plan still runs but warns."""
    from pyspark.sql.window import Window

    gcols = group_cols or []
    levels = df.groupBy(*gcols, minimize).agg(F.max(maximize).alias("_lvl_max"))
    if not gcols and bucket_width is not None:
        # ADVICE r7: width 0 floors to NULL buckets (inner join matches
        # nothing → silently EMPTY frontier); a negative width inverts
        # bucket order (carry maxes over LARGER minimize values →
        # silently WRONG frontier). Fail loud instead.
        if not bucket_width > 0:
            raise ValueError(
                f"bucket_width must be > 0, got {bucket_width!r}"
            )
        bucket = F.floor(F.col(minimize) / F.lit(bucket_width))
        levels = levels.withColumn("_b", bucket)
        wc = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
        carry = (
            levels.groupBy("_b")
            .agg(F.max("_lvl_max").alias("_bmax"))
            .withColumn("_carry", F.max("_bmax").over(wc))
            .select("_b", "_carry")
        )
        win = (
            Window.partitionBy("_b")
            .orderBy(F.col(minimize).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        levels = (
            levels.join(F.broadcast(carry), "_b")
            .withColumn("_in_prev", F.max("_lvl_max").over(win))
            # greatest skips NULLs: first bucket has no carry, first
            # level per bucket has no in-bucket prefix
            .withColumn("_prev_max", F.greatest("_carry", "_in_prev"))
            .drop("_b", "_carry", "_in_prev")
        )
    else:
        if not gcols:
            import warnings

            warnings.warn(
                "skyline: ungrouped with no bucket_width funnels all "
                "|distinct minimize| levels through ONE window task; pass "
                "bucket_width to decompose the prefix scan (exact) at scale",
                RuntimeWarning,
                stacklevel=2,
            )
        w = (
            Window.partitionBy(*gcols)
            .orderBy(F.col(minimize).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        levels = levels.withColumn("_prev_max", F.max("_lvl_max").over(w))
    out = df.join(levels, [*gcols, minimize])
    return (
        out.filter(
            (F.col(maximize) == F.col("_lvl_max"))
            & (F.col("_prev_max").isNull() | (F.col("_prev_max") < F.col(maximize)))
        )
        .select(id_col, *gcols, minimize, maximize)
    )


def mad_outliers(
    df: DataFrame,
    value: str,
    group_cols: list[str] | None = None,
    z_cut: float = 3.5,
) -> DataFrame:
    """Robust outlier report per group: exact median, MAD (median
    absolute deviation), and the count of points whose modified z-score
    0.6745·(x−med)/MAD exceeds ``z_cut`` (Iglewicz–Hoaglin). Two grouped
    exact-percentile aggregates with a join between them — medians
    don't compose, so two passes is the floor for the exact statistic;
    swap percentile → approx_percentile at 100 TB for one-pass sketches.
    med/MAD are rounded to 6 BEFORE the z-scores so both engines score
    against identical pinned centers."""
    gcols = group_cols or []
    med = df.groupBy(*gcols).agg(
        F.round(F.percentile(value, F.lit(0.5)), 6).alias("med")
    )
    dev = df.join(med, gcols) if gcols else df.crossJoin(F.broadcast(med))
    mad = dev.groupBy(*gcols, "med").agg(
        F.round(F.percentile(F.abs(F.col(value) - F.col("med")), F.lit(0.5)), 6).alias(
            "mad"
        )
    )
    scored = df.join(mad, gcols) if gcols else df.crossJoin(F.broadcast(mad))
    # MAD = 0 (>= half the group equals its median, e.g. a 1-row group):
    # the modified z-score is undefined — NULL rz, 0 outliers, NULL max
    rz = F.when(
        F.col("mad") != 0,
        F.lit(0.6745) * (F.col(value) - F.col("med")) / F.col("mad"),
    )
    return (
        scored.groupBy(*gcols, "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.abs(rz) > z_cut, 1).otherwise(0)).alias("n_outliers"),
            F.round(F.max(F.abs(rz)), 6).alias("max_rz"),
        )
        .select(*gcols, "med", "mad", "n", "n_outliers", "max_rz")
    )


def emd_1d(
    df: DataFrame,
    value: str,
    split: Column,
    bucket_width: float = 1.0,
) -> DataFrame:
    """1-D earth mover's distance (Wasserstein-1) between the ``split``
    = true/false populations of ``value``, over fixed-width buckets:
    EMD = Σ_b |CDF_a(b) − CDF_b(b)| · gap_b · width — the closed form
    for one dimension, integrated over the REAL line. ``gap_b`` is the
    distance (in bucket units) from occupied bucket b to the NEXT
    occupied bucket: a CDF gap persists across empty interior buckets,
    so summing only over occupied rows with unit weight underestimates
    whenever the two samples leave holes in the grid (A at bucket 0, B
    at bucket 10 must cost 10·width, not width). The last occupied
    bucket takes gap 0 — both CDFs are 1 there, |Δ| = 0 regardless.
    Unlike KS (sup) or PSI (log-ratio), EMD weighs HOW FAR mass moved;
    training-data drift monitors want all three.

    Plan: one grouped count per (bucket, side) — the only full-data
    shuffle — then the running CDFs accumulate over the DISTINCT-bucket
    grid (domain-bounded after aggregation, the ks_two_sample contract:
    pre-bucket unbounded domains with ``bucket_width``). Per-bucket
    |ΔCDF|·gap terms quantize to DECIMAL(28,9) so the sum is
    order-free."""
    from pyspark.sql.window import Window

    cells = (
        df.select(
            F.floor(F.col(value) / bucket_width).alias("bucket"),
            split.alias("_is_a"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_is_a"), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(~F.col("_is_a"), 1).otherwise(0)).alias("n_b"),
        )
    )
    tot = cells.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wlead = Window.orderBy("bucket")
    steps = (
        cells.crossJoin(F.broadcast(tot))
        .withColumn("cum_a", F.sum("n_a").over(w))
        .withColumn("cum_b", F.sum("n_b").over(w))
        .withColumn(
            "gap",
            F.coalesce(F.lead("bucket").over(wlead) - F.col("bucket"), F.lit(0)),
        )
        .select(
            F.round(
                # one side empty: EMD between a distribution and nothing
                # is undefined — NULL terms, NULL emd (diagnosable)
                F.when(
                    (F.col("ta") > 0) & (F.col("tb") > 0),
                    F.abs(F.col("cum_a") / F.col("ta") - F.col("cum_b") / F.col("tb")),
                )
                * F.col("gap")
                * F.lit(bucket_width),
                9,
            )
            .cast("decimal(28,9)")
            .alias("term")
        )
    )
    return steps.agg(F.sum("term").cast("double").alias("emd"))


def gini_by_group(
    df: DataFrame,
    value: str,
    group_cols: list[str] | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Gini coefficient per group — the concentration diagnostic behind
    "what share of revenue/events does the head hold?" questions. Over
    values sorted ascending with ranks 1..n:
    G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx).

    Exactness contract: values quantize to integer CENTS before any
    sum, every accumulator is DECIMAL(38,0) (rank·cents products reach
    ~n²·x̄ — past int64 at corpus scale), and only the final ratio
    divides as double (rounded to 6). Ranks come from one
    group-partitioned window ordered by (cents, id) — the id tiebreak
    makes the ranking, hence the sum, engine-independent even though
    Gini itself is tie-insensitive. One window + one aggregate; skew
    bounded by the largest group."""
    from pyspark.sql.window import Window

    gcols = group_cols or []
    cents = F.floor(F.col(value) * 100).cast("long")
    order = [F.col("_cents").asc()] + (
        [F.col(id_col).asc()] if id_col else []
    )
    w = Window.partitionBy(*gcols).orderBy(*order)
    ranked = df.select(
        *gcols, *( [id_col] if id_col else [] ), cents.alias("_cents")
    ).withColumn("_rank", F.row_number().over(w))
    dec = "decimal(38,0)"
    agg = ranked.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_cents").cast(dec)).alias("_sx"),
        F.sum((F.col("_rank").cast(dec) * F.col("_cents").cast(dec))).alias("_srx"),
    )
    g = (
        (F.lit(2).cast(dec) * F.col("_srx")
         - (F.col("n") + 1).cast(dec) * F.col("_sx")).cast("double")
        / (F.col("n").cast(dec) * F.col("_sx")).cast("double")
    )
    return agg.select(*gcols, "n", F.round(g, 6).alias("gini"))


# Benford expected first-digit shares log10(1 + 1/d), d = 1..9 — Python
# literals shared with any SQL twin via repr().
BENFORD_SHARES = [math.log10(1 + 1 / d) for d in range(1, 10)]


def benford_audit(df: DataFrame, value: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    data-quality/fraud screen for magnitude-spanning positive metrics.
    The digit extracts from the integer part's decimal STRING (no
    float log10 edge cases at exact powers of ten); rows < 1 are out of
    scope. Output per digit 1..9: observed count, observed share,
    Benford's expected share (literal), and the squared-deviation
    chi-square term against expected counts — Σ terms is the audit
    statistic, left per-digit so the report shows WHERE the deviation
    lives. One scan, one 9-row aggregate."""
    digits = (
        df.filter(F.col(value) >= 1)
        .select(
            F.substring(
                F.floor(F.col(value)).cast("long").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = digits.agg(F.sum("n_obs").alias("n_total"))
    expected = F.element_at(
        F.array(*[F.lit(s) for s in BENFORD_SHARES]), F.col("digit")
    )
    return (
        digits.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("n_total"), 6).alias("obs_share"),
            F.round(expected, 6).alias("exp_share"),
            F.round(
                F.pow(F.col("n_obs") - expected * F.col("n_total"), 2)
                / (expected * F.col("n_total")),
                6,
            ).alias("chi2_term"),
        )
    )


def theil_sen_slope(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Theil–Sen robust trend per group: the MEDIAN of all pairwise
    slopes (y_j−y_i)/(x_j−x_i) — up to ~29% outlier contamination
    doesn't move it, where the OLS slope (trend_by_group) chases every
    spike. Exact Theil–Sen is inherently O(n²) in the group size, so
    the contract is BOUNDED GROUPS: pass pre-aggregated series (daily
    points within a month, hourly within a day) where n is tens, never
    raw events — the same bounded-block discipline as range_shard's
    |shards|² audit. The group-keyed self-join emits each pair once
    (x_i < x_j); duplicate x values contribute no pair (vertical
    slope). Inputs should be exact integers (epoch days, cents) so
    every slope double is identical across engines; the median
    interpolates like percentile/quantile_cont."""
    gcols = group_cols or []
    a = df.select(*gcols, F.col(x).alias("_xa"), F.col(y).alias("_ya"))
    b = df.select(*gcols, F.col(x).alias("_xb"), F.col(y).alias("_yb"))
    cond = [a[c] == b[c] for c in gcols] + [a["_xa"] < b["_xb"]]
    pairs = a.join(b, cond).select(
        *[a[c] for c in gcols],
        (
            (F.col("_yb") - F.col("_ya")).cast("double")
            / (F.col("_xb") - F.col("_xa")).cast("double")
        ).alias("_slope"),
    )
    return pairs.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.percentile("_slope", F.lit(0.5)), 6).alias("slope"),
    )


def srm_check(
    df: DataFrame,
    arm: Column,
    expected: list[tuple[str, float]],
    unit_col: str = "user_id",
) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the FIRST check any experiment
    readout runs: do the randomization-unit counts per arm match the
    intended split? Per arm: distinct units observed, the literal
    expected share, and the (o−e)²/e chi-square term (Σ terms vs the
    critical value at |arms|−1 dof says whether assignment is broken —
    a failed SRM invalidates every downstream metric). One distinct
    aggregate on (arm, unit), then arithmetic over the |arms|-row
    table."""
    exp_share = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(name) for name, _ in expected]),
            F.array(*[F.lit(s) for _, s in expected]),
        ),
        F.col("arm"),
    )
    counts = (
        df.select(arm.alias("arm"), F.col(unit_col).alias("u"))
        .groupBy("arm")
        .agg(F.count_distinct("u").alias("n_units"))
    )
    tot = counts.agg(F.sum("n_units").alias("n_total"))
    e = exp_share * F.col("n_total")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "n_units",
            F.round(F.col("n_units") / F.col("n_total"), 6).alias("obs_share"),
            F.round(exp_share, 6).alias("exp_share"),
            F.round(F.pow(F.col("n_units") - e, 2) / e, 6).alias("chi2_term"),
        )
    )


def _daily_count_moments(
    events: DataFrame, group: str, ts_col: str
) -> tuple[DataFrame, Column, Column]:
    """Per group of `events`: the (g, n_days, sx, sxx) aggregate of its
    DAILY event counts — exact integer counts, Σx/Σx² in DECIMAL — and
    the mean and sample-variance columns over it (n·Σx² − (Σx)² over
    n(n−1), doubles only in the finished formula). A single observed
    day has no sample variance: var is NULL (the module's
    insufficient-units contract), never an ANSI error."""
    daily = (
        events.select(F.col(group).alias("g"), F.expr(f"{ts_col} div 86400000").alias("day"))
        .groupBy("g", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dec = "decimal(38,0)"
    m = daily.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("c").cast(dec)).alias("sx"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).alias("sxx"),
    )
    n = F.col("n_days").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    mean = sx / n
    var = F.when(F.col("n_days") >= 2, (n * sxx - sx * sx) / (n * (n - 1)))
    return m, mean, var


def overdispersion(
    events: DataFrame,
    group: str = "event_type",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Variance-to-mean ratio of DAILY counts per group — the Poisson
    overdispersion diagnostic (ratio ≈ 1: arrivals look Poisson; ≫ 1:
    bursty/clumped, so anomaly thresholds and A/B variance estimates
    based on Poisson assumptions are wrong). Daily counts are exact
    integers, the sample variance comes from exact Σx/Σx² moments
    (n·Σx² − (Σx)² over n(n−1) — the module's moment discipline), and
    only the final ratios are doubles, rounded to 6."""
    m, mean, var = _daily_count_moments(events, group, ts_col)
    return m.select(
        F.col("g").alias(group),
        "n_days",
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(F.when(mean != 0, var / mean), 6).alias("dispersion"),
    )


def lorenz_deciles(
    df: DataFrame,
    value: str,
    key_col: str,
) -> DataFrame:
    """Lorenz curve at decile granularity — the distributional picture
    behind the Gini scalar ("the top decile holds X% of the value").
    Per key: total cents; keys bucket into deciles by NINE exact
    interpolated percentile cutpoints (broadcast literals — NO global
    ntile window, the scale-correct way to rank-bucket an unbounded key
    set: a tie straddling a cutpoint lands by value comparison,
    identically in any engine); per decile: key count, cents sum, and
    the cumulative share of total cents (windows over the ≤10-row
    decile grid). Integer cents + DECIMAL sums keep every share
    order-free exact."""
    from pyspark.sql.window import Window

    dec = "decimal(38,0)"
    per_key = df.groupBy(F.col(key_col).alias("k")).agg(
        F.sum(F.round(F.col(value) * 100).cast("long")).alias("cents")
    )
    cuts = per_key.agg(
        *[
            F.percentile("cents", F.lit(i / 10.0)).alias(f"c{i}")
            for i in range(1, 10)
        ]
    )
    bucket = F.lit(1)
    for i in range(1, 10):
        bucket = bucket + (F.col("cents") > F.col(f"c{i}")).cast("int")
    deciles = (
        per_key.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("decile"), "cents")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("cents").cast(dec)).alias("_s"),
        )
    )
    tot = deciles.agg(F.sum("_s").alias("_t"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deciles.crossJoin(F.broadcast(tot))
        .withColumn("_cum", F.sum("_s").over(w))
        .select(
            "decile",
            "n_keys",
            F.col("_s").cast("long").alias("cents"),
            F.round(
                F.col("_cum").cast("double") / F.col("_t").cast("double"), 6
            ).alias("cum_share"),
        )
    )


#: inverse-CDF thresholds for Poisson(1), cumulative and literal so both
#: engines draw identical weights from the same uniform (capped at 6 —
#: P(X>6) ≈ 8.3e-5 folds into the last bucket)
_POISSON1_CDF = [
    0.367879441,
    0.735758882,
    0.919698603,
    0.981011844,
    0.996340153,
    0.999405815,
]
_BOOT_MOD = 1_000_000_007
_BOOT_MULT = 2654435761


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    replicates: int = 200,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
) -> DataFrame:
    """Percentile bootstrap confidence interval for the MEAN via the
    Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012) — THE bootstrap that scales:
    classical resampling needs n draws per replicate from a global
    sample (a driver-side loop); the Poisson trick gives every row an
    independent Poisson(1) weight per replicate, so all B replicates
    compute in ONE map-side pass over the data + one B-row aggregate,
    no shuffle wider than the replicate id.

    rand()-free and engine-replayable: the per-(row, replicate) uniform
    is the Knuth multiplicative hash u = ((id·B + rep + 1)·2654435761
    mod p)/p (the link_negatives corrupt-tail recipe), pushed through
    the literal Poisson(1) inverse-CDF thresholds — both engines draw
    the exact same integer weights, so the interval is hash-checkable.
    Weighted sums quantize to DECIMAL (order-free); the replicate-mean
    grid (B rows) sorts deterministically for the percentile cut
    (index = ceil(q·B) per the classical percentile method).

    Returns one row: n, mean, ci_lo, ci_hi, replicates."""
    from pyspark.sql.window import Window as W

    # 18,9: wide enough for the metric, and weight·value products plus
    # billion-row sums stay inside Spark's 38-digit exact decimal range
    dec = "decimal(18,9)"
    u = (
        F.pmod(
            (F.col(id_col) * replicates + F.col("_rep") + 1) * F.lit(_BOOT_MULT),
            F.lit(_BOOT_MOD),
        )
        / F.lit(_BOOT_MOD)
    )
    w = F.lit(len(_POISSON1_CDF))
    for i in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[i]), F.lit(i)).otherwise(w)
    # replicate ids via explode(sequence) — stays inside whole-stage
    # codegen (a broadcast crossJoin plans a BroadcastNestedLoopJoin,
    # measured ~7x slower for the same 30M-row fan-out)
    # fan the projected 2-column input out to default parallelism BEFORE
    # the ×B explode: a single-split source (one parquet file locally, or
    # one compacted shard of a partitioned table) otherwise pins the
    # whole B·n weight computation to ONE core — profiled as a 4.7 s
    # single-task stage out of a 5.9 s wall at sf0.1/B=100. The weights
    # are a pure per-(id, rep) hash and the replicate aggregate is an
    # order-free exact-decimal sum, so the result is partitioning-
    # invariant; sources already at least as wide as the target pass
    # through untouched (at cluster scale scans arrive wide and this is
    # a no-op).
    src = df.select(F.col(id_col), F.round(F.col(value_col), 9).cast(dec).alias("_v"))
    target = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    weighted = src.withColumn(
        "_rep",
        F.explode(F.sequence(F.lit(0), F.lit(replicates - 1))),
    ).select("_rep", w.alias("_w"), "_v")
    reps = weighted.groupBy("_rep").agg(
        F.round(
            F.when(
                F.sum("_w") > 0,
                F.sum(F.col("_w") * F.col("_v")).cast("double") / F.sum("_w"),
            ),
            9,
        ).alias("_mean")
    )
    # a replicate whose every row drew weight 0 (P = e^-n, real only at
    # tiny n) is an EMPTY resample: its mean is undefined, so it drops
    # out of the percentile grid (NULL, never an ANSI divide error);
    # the cut indices still count against `replicates`, so at tiny n
    # the interval can come back empty rather than fabricated.
    # _rep tie-break: two replicate means equal to 9 dp must still rank
    # identically in any engine
    rk = F.row_number().over(W.orderBy("_mean", "_rep"))
    # lazy-checkpoint the B-row replicate grid: it feeds BOTH percentile
    # broadcasts (lo and hi), and each broadcast is its own job, so
    # without the cut the whole B·n weight pipeline executed once per
    # branch (the batch-1 twice-referenced-subtree discipline; ≤B rows
    # persisted, released by the bench between queries)
    ranked = (
        reps.filter(F.col("_mean").isNotNull())
        .select("_mean", "_rep", rk.alias("_rk"))
        .localCheckpoint(eager=False)
    )
    lo_i = max(1, math.ceil(lo_q * replicates))
    hi_i = max(1, math.ceil(hi_q * replicates))
    base = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round(F.col(value_col), 9).cast(dec)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean"),
    )
    # BOTH percentile cuts in one conditional-min aggregate over the
    # checkpointed grid (one broadcast job, not two). The not-null
    # filter preserves the documented degenerate contract exactly: if
    # either cut index is absent from the grid (tiny n), the old
    # filter+crossJoin chain produced ZERO rows, and so does this.
    cuts = ranked.agg(
        F.round(F.min(F.when(F.col("_rk") == lo_i, F.col("_mean"))), 6).alias("ci_lo"),
        F.round(F.min(F.when(F.col("_rk") == hi_i, F.col("_mean"))), 6).alias("ci_hi"),
    ).filter(F.col("ci_lo").isNotNull() & F.col("ci_hi").isNotNull())
    return base.crossJoin(F.broadcast(cuts)).withColumn(
        "replicates", F.lit(replicates)
    )


def conformal_threshold(
    df: DataFrame,
    score_col: str,
    split_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal calibration (Vovk et al.; Lei et al. 2018) — the
    distribution-free guarantee layer over any point predictor: given
    per-row nonconformity scores and a calibration/test split flag,
    q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest calibration score, and then
    P(test score ≤ q̂) ≥ 1−α holds with no assumptions on the model.
    The report returns the threshold AND the realized test coverage, so
    the guarantee is checked, not assumed.

    Plan: one grouped pass to the DISTINCT-score grid with per-split
    counts, a cumulative window over that grid (the ks_test
    bounded-grid contract) to find the k-th order statistic without a
    global row sort, and a final scalar aggregate for coverage.
    ``split_col``: true = calibration row, false = test row. Scores
    quantize to 9 dp so the rank arithmetic is engine-exact."""
    from pyspark.sql.window import Window as W

    s = F.round(F.col(score_col), 9)
    per = (
        df.select(
            s.alias("_s"),
            F.col(split_col).cast("int").alias("_cal"),
        )
        .groupBy("_s")
        .agg(
            F.sum("_cal").alias("nc"),
            F.sum(F.lit(1) - F.col("_cal")).alias("nt"),
        )
    )
    w = W.orderBy("_s").rowsBetween(W.unboundedPreceding, 0)
    cum = per.withColumn("cum_cal", F.sum("nc").over(w))
    tot = per.agg(
        F.sum("nc").alias("n_cal"), F.sum("nt").alias("n_test")
    )
    with_k = cum.crossJoin(F.broadcast(tot)).withColumn(
        "_k", F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - alpha))
    )
    qhat = (
        with_k.filter(F.col("cum_cal") >= F.least(F.col("_k"), F.col("n_cal")))
        .agg(F.min("_s").alias("q_hat"))
    )
    covered = (
        per.crossJoin(F.broadcast(qhat))
        .agg(
            F.sum(F.when(F.col("_s") <= F.col("q_hat"), F.col("nt")).otherwise(0)).alias(
                "_cov"
            )
        )
    )
    return (
        tot.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(covered))
        .select(
            "n_cal",
            "n_test",
            F.col("q_hat"),
            F.round(F.col("_cov") / F.col("n_test"), 6).alias("test_coverage"),
            F.lit(alpha).alias("alpha"),
        )
    )


def jackknife_ratio_ci(
    df: DataFrame,
    num_col: str,
    den_col: str,
    unit_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """Delete-one-unit jackknife CI for a RATIO metric R = ΣY/ΣX over
    randomization units — the standard error experimentation stacks
    report for per-user ratio metrics (revenue per session, CTR), where
    the naive row-level variance is wrong because rows within a unit
    correlate. Leave-unit-out replicates have the closed form
    R_i = (Sy − y_i)/(Sx − x_i), so the whole estimate is one per-unit
    aggregate + broadcast totals — no resampling loop, no second scan.

    var_jk = (n−1)/n · Σ(R_i − R̄)², with R_i and the squared terms
    quantized to 9 dp DECIMAL before summing (order-free). Returns one
    row: n_units, ratio, jk_se, ci_lo, ci_hi."""
    dec = "decimal(18,9)"
    per_unit = df.groupBy(unit_col).agg(
        F.sum(F.round(F.col(num_col), 9).cast(dec)).cast(dec).alias("_y"),
        F.sum(F.round(F.col(den_col), 9).cast(dec)).cast(dec).alias("_x"),
    )
    tot = per_unit.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").alias("sy"),
        F.sum("_x").alias("sx"),
    )
    # a replicate whose leave-one-out denominator is 0 is UNDEFINED
    # (that unit holds the whole metric's denominator) — NULL, never an
    # ANSI divide error mid-aggregate
    den = (F.col("sx") - F.col("_x")).cast("double")
    ri = F.round(
        F.when(den != 0, (F.col("sy") - F.col("_y")).cast("double") / den),
        9,
    )
    reps = per_unit.crossJoin(F.broadcast(tot)).select(
        ri.cast(dec).alias("_r")
    )
    m = reps.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_r").isNull(), 1).otherwise(0)).alias("n_undef"),
        F.sum("_r").alias("sr"),
        F.sum((F.col("_r") * F.col("_r")).cast("decimal(38,18)")).alias("srr"),
    )
    n = F.col("n").cast("double")
    sr, srr = F.col("sr").cast("double"), F.col("srr").cast("double")
    # <2 units (no spread to measure) or any undefined replicate (the
    # estimator's variance is not a number) — NULL se/ci, diagnosable;
    # the same insufficient-units contract as mde_power
    var_jk = F.when(
        (F.col("n") >= 2) & (F.col("n_undef") == 0),
        (n - 1) / n * (srr - sr * sr / n),
    )
    se = F.sqrt(var_jk)
    ratio = tot.select(
        (F.col("sy").cast("double") / F.col("sx").cast("double")).alias("_ratio")
    )
    return (
        m.crossJoin(F.broadcast(ratio))
        .select(
            F.col("n").alias("n_units"),
            F.round("_ratio", 6).alias("ratio"),
            F.round(se, 6).alias("jk_se"),
            F.round(F.col("_ratio") - F.lit(z) * se, 6).alias("ci_lo"),
            F.round(F.col("_ratio") + F.lit(z) * se, 6).alias("ci_hi"),
        )
    )


def cuped_adjustment(
    df: DataFrame,
    y_col: str,
    x_col: str,
    unit_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013)
    — the pre-experiment-covariate adjustment every experimentation
    guardrail stack applies before reading a metric: per unit,
    adjusted = y − θ(x − x̄) with θ = cov(x, y)/var(x), which keeps the
    metric's mean and removes the variance the pre-period already
    explains (reduction factor = ρ²).

    One pass of DECIMAL-quantized moment sums (Σx, Σy, Σxy, Σx², Σy²
    over 9-dp quantized values — order-free, engine-exact; 18,9 keeps
    the cross-products inside the 38-digit exact range), closed-form
    θ, and a one-row report: n_units, theta, var_y, var_adjusted,
    variance_reduction. Population (1/n) variances; every ratio rounds
    to 6 after exact accumulation."""
    dec = "decimal(18,9)"
    # cast the per-unit sums back down to (18,9): Spark widens SUM to
    # (28,9) and a (28,9)x(28,9) product would overflow the 38-digit
    # exact range; per-unit magnitudes fit (18,9) comfortably
    per_unit = df.groupBy(unit_col).agg(
        F.sum(F.round(F.col(y_col), 9).cast(dec)).cast(dec).alias("_y"),
        F.sum(F.round(F.col(x_col), 9).cast(dec)).cast(dec).alias("_x"),
    )
    m = per_unit.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    var_x = sxx / n - (sx / n) * (sx / n)
    var_y = syy / n - (sy / n) * (sy / n)
    cov = sxy / n - (sx / n) * (sy / n)
    # constant covariate (var_x = 0): θ is undefined — NULL θ and
    # adjusted columns rather than Infinity; constant metric
    # (var_y = 0): nothing to reduce — NULL reduction ratio
    theta = F.when(var_x > 0, cov / var_x)
    var_adj = F.when(
        var_x > 0, var_y - cov * cov / var_x
    )  # = var_y(1 − ρ²), closed form
    return m.select(
        F.col("n").alias("n_units"),
        F.round(theta, 6).alias("theta"),
        F.round(var_y, 6).alias("var_y"),
        F.round(var_adj, 6).alias("var_adjusted"),
        F.round(
            F.when(var_y > 0, F.lit(1) - var_adj / var_y), 6
        ).alias("variance_reduction"),
    )


def classifier_auc(
    df: DataFrame,
    score_col: str,
    y_col: str,
) -> DataFrame:
    """Exact ROC-AUC of a scoring classifier via the Mann-Whitney
    U statistic — the threshold-free twin of calibration_bins (that
    one asks "are the probabilities honest"; this asks "does the score
    rank positives above negatives at all"). Tie-aware:
    AUC = [Σ_pairs 1(s⁺ > s⁻) + ½·1(s⁺ = s⁻)] / (P·N).

    Plan: never the pair space — one grouped pass to per-DISTINCT-score
    (n_pos, n_neg), then a cumulative window over the score grid:
    each distinct score s contributes n_pos(s)·cum_neg_below(s) wins
    plus ½·n_pos(s)·n_neg(s) ties. The window is unpartitioned but runs
    over the post-aggregation DISTINCT-score grid (the ks_test /
    emd_drift bounded-grid contract), and every quantity is an exact
    integer until the single final division — the numerator is
    2·wins + ties in halves, so the round-6 AUC is engine-exact.
    Returns one row: n_pos, n_neg, auc."""
    from pyspark.sql.window import Window as W

    per_score = (
        df.select(
            F.col(score_col).alias("_s"), F.col(y_col).cast("long").alias("_y")
        )
        .groupBy("_s")
        .agg(
            F.sum("_y").alias("np"),
            F.sum(F.lit(1) - F.col("_y")).alias("nn"),
        )
    )
    w = W.orderBy("_s").rowsBetween(W.unboundedPreceding, -1)
    contrib = per_score.withColumn(
        "cum_neg", F.coalesce(F.sum("nn").over(w), F.lit(0))
    ).select(
        "np",
        "nn",
        (F.lit(2) * F.col("np") * F.col("cum_neg") + F.col("np") * F.col("nn")).alias(
            "num2"
        ),
    )
    return contrib.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        # a single-class input has no pos/neg pairs to rank: AUC is
        # undefined — NULL, never an ANSI divide error
        F.round(
            F.when(
                (F.sum("np") > 0) & (F.sum("nn") > 0),
                F.sum("num2").cast("double")
                / (F.lit(2) * F.sum("np") * F.sum("nn")),
            ),
            6,
        ).alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    p_col: str,
    y_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram / ECE bins for a probabilistic classifier:
    predictions bucket into ``bins`` equal-width confidence bins; per
    bin the mean predicted confidence, the observed accuracy, their
    gap, and the N-weighted ECE term (Σ terms = expected calibration
    error — the go-to eval for quality/toxicity/langid filter models
    before thresholding a corpus on their scores).

    One conditional aggregate per bin quantities: predictions quantize
    to 9 dp DECIMAL before summing (order-free means), labels are
    integer sums, and only the finished ratios divide as doubles. The
    bin grid is literal-bounded — everything after the single grouped
    pass is arithmetic on ≤``bins`` rows."""
    b = F.least(
        F.floor(F.col(p_col) * bins).cast("int"), F.lit(bins - 1)
    )
    grouped = (
        df.select(
            b.alias("bin"),
            F.round(F.col(p_col), 9).cast("decimal(28,9)").alias("_p"),
            F.col(y_col).cast("long").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_p").alias("_sp"),
            F.sum("_y").alias("_sy"),
        )
    )
    tot = grouped.agg(F.sum("n").alias("_n_total"))
    conf = F.col("_sp").cast("double") / F.col("n")
    acc = F.col("_sy").cast("double") / F.col("n")
    return (
        grouped.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            F.round(conf, 6).alias("confidence"),
            F.round(acc, 6).alias("accuracy"),
            F.round(
                (F.col("n") / F.col("_n_total")) * F.abs(acc - conf), 6
            ).alias("ece_term"),
        )
    )


def mde_power(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    arm_col: str,
    control: str = "control",
    treatment: str = "treatment",
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> DataFrame:
    """Minimum detectable effect for a two-arm experiment — the power
    calculation a platform runs BEFORE launch to answer "is this test
    even worth running at this traffic?": with the observed per-unit
    variance and arm sizes, the smallest true lift a two-sided α=0.05
    test detects with 80% power is

        MDE = (z_{α/2} + z_{β}) · sqrt(s²_c/n_c + s²_t/n_t)

    (z literals 1.959964 / 0.841621 — no stats tables in either
    engine). Randomization-unit correctness matters as much as the
    formula: variance is computed over PER-UNIT sums, not rows, because
    rows within a unit correlate (same discipline as jackknife_ratio_ci).

    One per-unit DECIMAL aggregate, then a single conditional-moment
    pass over the per-unit table → ONE output row: n/mean/sd per arm,
    mde_abs, mde_rel (relative to the control mean). Sample (n−1)
    variances. Scales as a map-side-combined two-level aggregate; no
    window, no join.

    Degenerate arms are diagnosable, not Infinity: an arm with <2
    randomization units has no sample variance → sd/mde columns are
    NULL; a zero control mean → mde_rel NULL (mde_abs still reports).
    NULL means "insufficient units (or zero base) for this readout"."""
    dec = "decimal(18,9)"
    per_unit = df.groupBy(unit_col, arm_col).agg(
        F.sum(F.round(F.col(value_col), 9).cast(dec)).cast(dec).alias("_v")
    )
    is_c = F.col(arm_col) == control
    is_t = F.col(arm_col) == treatment
    zero = F.lit(0).cast(dec)
    m = per_unit.agg(
        F.sum(F.when(is_c, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(is_t, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(is_c, F.col("_v")).otherwise(zero)).alias("sc"),
        F.sum(F.when(is_t, F.col("_v")).otherwise(zero)).alias("st"),
        F.sum(
            F.when(is_c, (F.col("_v") * F.col("_v")).cast("decimal(38,18)"))
            .otherwise(F.lit(0).cast("decimal(38,18)"))
        ).alias("scc"),
        F.sum(
            F.when(is_t, (F.col("_v") * F.col("_v")).cast("decimal(38,18)"))
            .otherwise(F.lit(0).cast("decimal(38,18)"))
        ).alias("stt"),
    )
    nc, nt = F.col("nc").cast("double"), F.col("nt").cast("double")
    sc, st = F.col("sc").cast("double"), F.col("st").cast("double")
    scc, stt = F.col("scc").cast("double"), F.col("stt").cast("double")
    var_c = F.when(F.col("nc") >= 2, (scc - sc * sc / nc) / (nc - 1))
    var_t = F.when(F.col("nt") >= 2, (stt - st * st / nt) / (nt - 1))
    mean_c = F.when(F.col("nc") >= 1, sc / nc)
    se = F.sqrt(var_c / nc + var_t / nt)
    mde = F.lit(z_alpha + z_power) * se
    return m.select(
        F.col("nc").alias("n_control"),
        F.col("nt").alias("n_treatment"),
        F.round(mean_c, 6).alias("mean_control"),
        F.round(F.sqrt(var_c), 6).alias("sd_control"),
        F.round(F.sqrt(var_t), 6).alias("sd_treatment"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(F.when(mean_c != 0, mde / mean_c), 6).alias("mde_rel"),
    )


def msprt_always_valid(
    df: DataFrame,
    value_col: str,
    arm_col: str,
    day_col: str,
    control: str = "control",
    treatment: str = "treatment",
) -> DataFrame:
    """Always-valid p-value sequence via the mixture sequential
    probability ratio test (Johari, Koomen, Pekelis & Walsh, "Peeking
    at A/B tests", KDD 2017) — the sequential monitor that lets an
    experimenter look at the dashboard EVERY day without inflating
    false positives, which fixed-horizon t-tests cannot survive.

    Two-sample normal mSPRT with plug-in variance: at cumulative day n

        V_n  = σ²(1/n_c + 1/n_t)
        Λ_n  = sqrt(V_n/(V_n+τ²)) · exp(δ̂_n² τ² / (2 V_n (V_n+τ²)))
        p_n  = min(1, 1 / max_{m≤n} Λ_m)        (monotone by design)

    σ² is the pooled per-observation variance over the full log, pinned
    to 9 dp so the exp() argument is the identical double on both
    engines; τ² = σ² (the standard default mixing scale — sensitivity
    tuned to effects on the order of one observation SD).

    Plan shape: one (day, arm) DECIMAL aggregate, cumulative sums over
    the tiny |days|×2 table, a broadcast one-row σ² scalar, then the
    closed-form Λ and a running max — everything after the first
    aggregate runs on a bounded grid, so the 100 TB cost is the single
    map-side-combined log pass."""
    from pyspark.sql import Window as W

    dec = "decimal(18,9)"
    day = F.col(day_col)
    is_c = F.col(arm_col) == control
    is_t = F.col(arm_col) == treatment
    zero = F.lit(0).cast(dec)
    per_day = df.groupBy(day.alias("day")).agg(
        F.sum(F.when(is_c, 1).otherwise(0)).alias("_dnc"),
        F.sum(F.when(is_t, 1).otherwise(0)).alias("_dnt"),
        F.sum(
            F.when(is_c, F.round(F.col(value_col), 9).cast(dec)).otherwise(zero)
        ).cast(dec).alias("_dsc"),
        F.sum(
            F.when(is_t, F.round(F.col(value_col), 9).cast(dec)).otherwise(zero)
        ).cast(dec).alias("_dst"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = per_day.select(
        "day",
        F.sum("_dnc").over(w).alias("nc"),
        F.sum("_dnt").over(w).alias("nt"),
        F.sum("_dsc").over(w).alias("sc"),
        F.sum("_dst").over(w).alias("st"),
    )
    # pooled per-observation variance (population), 9 dp pinned
    mom = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.round(F.col(value_col), 9).cast(dec)).alias("_s"),
        F.sum(
            (F.round(F.col(value_col), 9).cast(dec)
             * F.round(F.col(value_col), 9).cast(dec)).cast("decimal(38,18)")
        ).alias("_ss"),
    )
    sig2 = F.round(
        F.col("_ss").cast("double") / F.col("_n")
        - (F.col("_s").cast("double") / F.col("_n"))
        * (F.col("_s").cast("double") / F.col("_n")),
        9,
    )
    sigma = mom.select(sig2.alias("_sig2"))
    nc, nt = F.col("nc").cast("double"), F.col("nt").cast("double")
    delta = F.col("st").cast("double") / nt - F.col("sc").cast("double") / nc
    v = F.col("_sig2") * (F.lit(1.0) / nc + F.lit(1.0) / nt)
    tau2 = F.col("_sig2")
    lam = F.round(
        F.sqrt(v / (v + tau2))
        * F.exp(delta * delta * tau2 / (F.lit(2.0) * v * (v + tau2))),
        9,
    )
    staged = (
        cum.filter((F.col("nc") > 0) & (F.col("nt") > 0))
        .crossJoin(F.broadcast(sigma))
        .select(
            "day",
            F.col("nc").alias("n_control"),
            F.col("nt").alias("n_treatment"),
            F.round(delta, 6).alias("mean_diff"),
            lam.alias("_lam"),
        )
    )
    wmax = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    run = F.max("_lam").over(wmax)
    return staged.select(
        "day",
        "n_control",
        "n_treatment",
        "mean_diff",
        F.round(F.col("_lam"), 6).alias("lambda_n"),
        F.round(F.least(F.lit(1.0), F.lit(1.0) / run), 6).alias("p_always_valid"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    key_cols: list[str],
    q: float = 0.10,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR correction (Benjamini & Hochberg
    1995) over a family of per-group test p-values — the multiple-
    testing control a metrics platform applies when ONE experiment
    readout fans out into dozens of per-segment / per-metric tests and
    "something is p<0.05 somewhere" is guaranteed by chance alone.

    adjusted p_(i) = min_{j≥i}( m·p_(j)/j ) capped at 1, computed as a
    running min over the rank-DESC window; reject where p_adj ≤ q. The
    input is a per-group test table (one row per hypothesis, m = row
    count), so the window runs over the bounded family — never the
    corpus. Ties in p break by the key columns so the rank (and hence
    the adjustment) is the same total order on both engines."""
    from pyspark.sql import Window as W

    # m via an unbounded window count (the family is bounded by
    # contract) — a df.count() action here would execute the whole
    # upstream chain a SECOND time just to fetch the literal
    order = [F.col(p_col).asc()] + [F.col(k).asc() for k in key_cols]
    rnk = F.row_number().over(W.orderBy(*order))
    m = F.count(F.lit(1)).over(
        W.orderBy(*order).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    raw = F.round(F.col(p_col) * m.cast("double") / F.col("_rank"), 9)
    wdesc = W.orderBy(F.col("_rank").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    adj = F.least(F.lit(1.0), F.min("_raw").over(wdesc))
    return (
        df.withColumn("_rank", rnk)
        .withColumn("_raw", raw)
        .withColumn("p_adj", F.round(adj, 6))
        .withColumn("reject", F.col("p_adj") <= F.lit(q))
        .drop("_raw")
        .withColumnRenamed("_rank", "p_rank")
    )


def isotonic_fit(
    df: DataFrame,
    p_col: str,
    y_col: str,
    bins: int = 10,
) -> DataFrame:
    """Exact isotonic (monotone nondecreasing) calibration of a score
    column against binary outcomes — the pool-adjacent-violators fit
    (Ayer et al. 1955; Zadrozny & Elkan KDD'02 for classifier
    calibration) that turns calibration_bins' DIAGNOSTIC into a usable
    probability map: iso_rate per score bin, guaranteed monotone, each
    pooled block preserving its weighted mean.

    The scale trick: PAVA is sequential, but its solution has the
    closed minimax form

        iso_i = max_{j≤i} min_{k≥i}  ( Σ_{b=j..k} y_b / Σ_{b=j..k} n_b )

    so after ONE corpus aggregate to the `bins`-row grid the fit is a
    bounded B³ enumeration (B=10 → ≤220 joined rows) over prefix sums —
    no iteration, no driver loop, no UDF. The 100 TB cost is exactly
    the one map-side-combined (score-bin) aggregate.

    Input: one row per example with p ∈ [0,1] and y ∈ {0,1}. Output per
    non-empty bin: bin, n, raw_rate, iso_rate (both 6 dp)."""
    from pyspark.sql import Window as W

    b = F.least(F.floor(F.col(p_col) * bins).cast("int"), F.lit(bins - 1))
    grouped = (
        df.select(b.alias("bin"), F.col(y_col).cast("long").alias("_y"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_y").alias("sy"))
    )
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    pref = grouped.select(
        "bin",
        "n",
        "sy",
        F.sum("n").over(w).alias("cn"),
        F.sum("sy").over(w).alias("cy"),
    )
    # the B-row grid feeds three join branches — lazy checkpoint keeps
    # the corpus aggregate at ONE execution
    pref = pref.localCheckpoint(eager=False)
    lo = pref.select(
        F.col("bin").alias("j"),
        (F.col("cy") - F.col("sy")).alias("cyj"),
        (F.col("cn") - F.col("n")).alias("cnj"),
    )
    hi = pref.select(
        F.col("bin").alias("k"), F.col("cy").alias("cyk"), F.col("cn").alias("cnk")
    )
    pairs = lo.join(hi, F.col("k") >= F.col("j")).select(
        "j",
        "k",
        (
            (F.col("cyk") - F.col("cyj")).cast("double")
            / (F.col("cnk") - F.col("cnj")).cast("double")
        ).alias("avg"),
    )
    grid = pref.select(F.col("bin").alias("i"))
    inner = (
        pairs.join(grid, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("avg").alias("mn"))
    )
    fit = inner.groupBy("i").agg(F.round(F.max("mn"), 6).alias("iso_rate"))
    return (
        pref.join(fit, pref["bin"] == fit["i"])
        .select(
            "bin",
            "n",
            F.round(F.col("sy").cast("double") / F.col("n"), 6).alias("raw_rate"),
            "iso_rate",
        )
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 100,
) -> DataFrame:
    """Hill estimator of the Pareto tail index (Hill 1975) over a
    key-frequency table — the scale-pricing companion to the key_skew /
    simhash_block_diagnostic family: key_skew reports how skewed the
    keys are TODAY; α̂ says how the hot tail GROWS, because for a
    power-law tail the top-key share scales like n^(1-1/α) — α near 1
    means the hottest key keeps absorbing a constant fraction of a
    100 TB corpus and salting is mandatory, large α means the tail
    thins and plain hash partitioning holds.

        α̂ = k / Σ_{i=1..k} ln(x_(i) / x_(k+1)),   SE ≈ α̂/√k

    Plan: distributed TakeOrdered of the top k+1 frequencies (orderBy
    DESC + limit — no global sort materialization), then the log fold
    on the bounded k-row table with 9-dp DECIMAL term sums (order-free)
    and a broadcast total-key count. Ties at the boundary break by key
    so both engines pick the identical top set.

    Degenerate input (<= k keys): the rank-(k+1) threshold row does not
    exist, so the estimator is undefined — the output is then a single
    row with NULL hill_alpha / alpha_se / tail_threshold (and k = the
    rows actually present) rather than an empty DataFrame; NULL means
    "not enough keys for this k", diagnosable instead of vanishing
    (the threshold rides a 1-row conditional aggregate, never an empty
    cross join)."""
    top = (
        df.select(F.col(value_col).alias("x"), F.col(key_col).alias("_k"))
        .orderBy(F.col("x").desc(), F.col("_k").asc())
        .limit(k + 1)
    )
    # bounded (k+1)-row table feeds the threshold AND the numerator
    top = top.localCheckpoint(eager=False)
    from pyspark.sql import Window as W

    rnk = F.row_number().over(W.orderBy(F.col("x").desc(), F.col("_k").asc()))
    ranked = top.select("x", rnk.alias("rk"))
    # exactly ONE row always: xk1 is NULL when the k+1-th key is absent
    thr = ranked.agg(
        F.min(F.when(F.col("rk") == k + 1, F.col("x"))).alias("xk1")
    )
    terms = (
        ranked.filter(F.col("rk") <= k)
        .crossJoin(F.broadcast(thr))
        .select(
            F.round(
                F.log(F.col("x").cast("double") / F.col("xk1").cast("double")), 9
            )
            .cast("decimal(28,9)")
            .alias("_t")
        )
    )
    n_keys = df.agg(F.count(F.lit(1)).alias("n_keys"))
    agg = terms.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum("_t").alias("_s"),
    )
    alpha = F.col("k_used").cast("double") / F.col("_s").cast("double")
    return (
        agg.crossJoin(F.broadcast(n_keys))
        .crossJoin(F.broadcast(thr))
        .select(
            "n_keys",
            F.col("k_used").alias("k"),
            F.col("xk1").alias("tail_threshold"),
            F.round(alpha, 6).alias("hill_alpha"),
            F.round(alpha / F.sqrt(F.col("k_used").cast("double")), 6).alias(
                "alpha_se"
            ),
        )
    )


def stratified_association(
    df: DataFrame,
    exposure: "F.Column",
    outcome: "F.Column",
    stratum_col: str,
) -> DataFrame:
    """Mantel–Haenszel stratified 2×2 association (Mantel & Haenszel
    1959) with a Simpson's-paradox flag — the confounding check a data
    platform runs before trusting any POOLED association read off a
    mixed corpus: per stratum the odds ratio, plus a TOTAL row carrying
    the crude (pooled) OR, the CMH common OR

        OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ)

    and reversed = (crude side of 1) ≠ (CMH side of 1) — true means the
    pooled number points the WRONG way once strata are controlled.

    One grouped conditional-count pass; cross-products go through
    double BEFORE multiplying (a·d of two 1e11 counts overflows int64
    at corpus scale) and the CMH terms quantize to 9-dp DECIMAL so the
    stratum sum is order-free."""
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum((exposure & outcome).cast("long")).alias("a"),
        F.sum((exposure & ~outcome).cast("long")).alias("b"),
        F.sum((~exposure & outcome).cast("long")).alias("c"),
        F.sum((~exposure & ~outcome).cast("long")).alias("d"),
    )
    # the |strata|-row table feeds the per-stratum rows AND the TOTAL
    per = per.localCheckpoint(eager=False)
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n")
    orr = F.when(
        (F.col("b") > 0) & (F.col("c") > 0),
        F.round(
            F.col("a").cast("double") * F.col("d")
            / (F.col("b").cast("double") * F.col("c")),
            6,
        ),
    )
    strata = per.select(
        "stratum",
        "a",
        "b",
        "c",
        "d",
        n,
        orr.alias("odds_ratio"),
        F.lit(None).cast("double").alias("cmh_or"),
        F.lit(None).cast("boolean").alias("reversed"),
    )
    nn = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    tot = per.agg(
        F.sum("a").alias("a"),
        F.sum("b").alias("b"),
        F.sum("c").alias("c"),
        F.sum("d").alias("d"),
        F.sum(
            F.round(F.col("a").cast("double") * F.col("d") / nn, 9).cast(
                "decimal(28,9)"
            )
        ).alias("_num"),
        F.sum(
            F.round(F.col("b").cast("double") * F.col("c") / nn, 9).cast(
                "decimal(28,9)"
            )
        ).alias("_den"),
    )
    # an empty off-diagonal (b or c = 0) leaves the pooled odds ratio
    # undefined, and an all-one-cell corpus zeroes the CMH denominator:
    # NULL ratios (diagnosable), never an ANSI divide error
    crude = F.when(
        (F.col("b") > 0) & (F.col("c") > 0),
        F.col("a").cast("double") * F.col("d")
        / (F.col("b").cast("double") * F.col("c")),
    )
    cmh = F.when(
        F.col("_den") != 0,
        F.col("_num").cast("double") / F.col("_den").cast("double"),
    )
    total = tot.select(
        F.lit("TOTAL").alias("stratum"),
        "a",
        "b",
        "c",
        "d",
        n,
        F.round(crude, 6).alias("odds_ratio"),
        F.round(cmh, 6).alias("cmh_or"),
        ((crude > 1.0) != (cmh > 1.0)).alias("reversed"),
    )
    return strata.unionByName(total)


def negbinom_fit(
    events: DataFrame,
    group: str = "event_type",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Method-of-moments negative-binomial fit of daily event counts —
    the parametric follow-up the overdispersion diagnostic begs: once
    var/mean ≫ 1 says "not Poisson", NB(r, p) with

        p = m/v,   r = m²/(v − m),   P(0) = p^r

    is the standard burst model (Poisson-gamma mixture), and P(0) is
    directly actionable: the expected share of ZERO-activity days a
    Poisson model would badly underestimate. Same exact integer moment
    discipline as overdispersion (one daily-count aggregate, Σx/Σx² in
    DECIMAL, doubles only in the finished formula); groups with
    var ≤ mean (no overdispersion to model) report NULL fit columns
    rather than a garbage negative r."""
    m, mean, var = _daily_count_moments(events, group, ts_col)
    # a NULL var (a single observed day) makes every fit column NULL
    over = var > mean
    r = mean * mean / (var - mean)
    p = mean / var
    return m.select(
        F.col("g").alias(group),
        "n_days",
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.when(over, F.round(r, 6)).alias("nb_r"),
        F.when(over, F.round(p, 6)).alias("nb_p"),
        F.when(over, F.round(F.pow(p, r), 6)).alias("p_zero"),
    )


def quantile_treatment(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    arm_col: str,
    quantiles: tuple = (0.25, 0.5, 0.75, 0.9),
    control: str = "control",
    treatment: str = "treatment",
) -> DataFrame:
    """Quantile treatment effects — the distributional readout a mean
    difference hides: per quantile q, the exact interpolated per-unit
    metric quantile in each arm and their gap. A lift concentrated in
    the p90 tail (whales) and a uniform shift both move the mean the
    same way; QTE tells them apart before a rollout decision.

    Per-unit DECIMAL sums (randomization-unit discipline), ONE exact
    percentile aggregate per arm with the full quantile array (not one
    pass per q), then a |quantiles|-row pivot. percentile() here and
    quantile_cont() in the oracle share the same (1−h)·lo + h·hi
    interpolation — the module's established cross-engine pair."""
    dec = "decimal(18,9)"
    per_unit = df.groupBy(unit_col, arm_col).agg(
        F.sum(F.round(F.col(value_col), 9).cast(dec)).cast(dec).alias("_v")
    )
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    qs = per_unit.groupBy(arm_col).agg(
        F.percentile(F.col("_v").cast("double"), qarr).alias("_qs")
    )
    exploded = qs.select(
        F.col(arm_col).alias("_arm"), F.posexplode("_qs").alias("_i", "_qv")
    ).select(
        F.element_at(qarr, F.col("_i") + 1).alias("q"), "_arm", "_qv"
    )
    is_c = F.col("_arm") == control
    is_t = F.col("_arm") == treatment
    piv = exploded.groupBy("q").agg(
        F.max(F.when(is_c, F.col("_qv"))).alias("_cq"),
        F.max(F.when(is_t, F.col("_qv"))).alias("_tq"),
    )
    return piv.select(
        "q",
        F.round("_cq", 6).alias("control_q"),
        F.round("_tq", 6).alias("treatment_q"),
        F.round(F.col("_tq") - F.col("_cq"), 6).alias("qte"),
    )


def covariate_balance(
    df: DataFrame,
    covariate_cols: list[str],
    arm_col: str,
    control: str = "control",
    treatment: str = "treatment",
    threshold: float = 0.1,
) -> DataFrame:
    """Standardized mean differences across experiment arms — the
    randomization-quality check that runs right after srm_check: for
    each pre-treatment covariate,

        SMD = (x̄_t − x̄_c) / sqrt((s²_t + s²_c)/2)

    with |SMD| < 0.1 the conventional "balanced" bar (Austin 2009). A
    covariate out of balance means the arms differ BEFORE treatment and
    every downstream metric needs adjustment (CUPED / stratification).

    One melt (explode of a literal covariate struct array — columns →
    rows without a second scan) + one grouped conditional-moment pass;
    9-dp DECIMAL sums, sample variances, one output row per covariate."""
    melted = df.select(
        F.col(arm_col).alias("_arm"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("cov"),
                        F.round(F.col(c).cast("double"), 9)
                        .cast("decimal(18,9)")
                        .alias("x"),
                    )
                    for c in covariate_cols
                ]
            )
        ).alias("_s"),
    ).select("_arm", F.col("_s.cov").alias("cov"), F.col("_s.x").alias("x"))
    is_c = F.col("_arm") == control
    is_t = F.col("_arm") == treatment
    zero = F.lit(0).cast("decimal(18,9)")
    zero2 = F.lit(0).cast("decimal(38,18)")
    sq = (F.col("x") * F.col("x")).cast("decimal(38,18)")
    m = melted.groupBy("cov").agg(
        F.sum(F.when(is_c, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(is_t, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(is_c, F.col("x")).otherwise(zero)).alias("sc"),
        F.sum(F.when(is_t, F.col("x")).otherwise(zero)).alias("st"),
        F.sum(F.when(is_c, sq).otherwise(zero2)).alias("scc"),
        F.sum(F.when(is_t, sq).otherwise(zero2)).alias("stt"),
    )
    nc, nt = F.col("nc").cast("double"), F.col("nt").cast("double")
    sc, st = F.col("sc").cast("double"), F.col("st").cast("double")
    scc, stt = F.col("scc").cast("double"), F.col("stt").cast("double")
    # <2 units in an arm: no sample variance -> NULL smd/balanced
    # (diagnosable, never Infinity/NaN)
    var_c = F.when(F.col("nc") >= 2, (scc - sc * sc / nc) / (nc - 1))
    var_t = F.when(F.col("nt") >= 2, (stt - st * st / nt) / (nt - 1))
    pooled = (var_t + var_c) / 2
    smd = F.when(
        pooled > 0, (st / nt - sc / nc) / F.sqrt(pooled)
    )
    return m.select(
        F.col("cov").alias("covariate"),
        F.col("nc").alias("n_control"),
        F.col("nt").alias("n_treatment"),
        F.round(F.when(F.col("nc") >= 1, sc / nc), 6).alias("mean_control"),
        F.round(F.when(F.col("nt") >= 1, st / nt), 6).alias("mean_treatment"),
        F.round(smd, 6).alias("smd"),
        (F.abs(F.round(smd, 6)) < threshold).alias("balanced"),
    )


def gains_curve(
    df: DataFrame,
    p_col: str,
    y_col: str,
    bins: int = 10,
) -> DataFrame:
    """Cumulative gains / lift curve over score deciles — the targeting
    readout beside classifier_auc and calibration_bins: rank by score
    DESC, and per decile report what share of all positives the top
    slice captures (cum_recall) and the lift over random (recall /
    share-of-examples). The "do the top 20% of scores hold 60% of the
    duplicates?" answer that decides a review-queue cutoff.

    One corpus aggregate to the score-bin grid, then prefix sums over
    the DESC-ordered bounded grid. Exact integer counts; doubles only
    in the final ratios."""
    from pyspark.sql import Window as W

    b = F.least(F.floor(F.col(p_col) * bins).cast("int"), F.lit(bins - 1))
    grouped = (
        df.select(b.alias("bin"), F.col(y_col).cast("long").alias("_y"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_y").alias("pos"))
    )
    # the B-row grid feeds the cumulative window AND the totals
    grouped = grouped.localCheckpoint(eager=False)
    tot = grouped.agg(
        F.sum("n").alias("_tn"), F.sum("pos").alias("_tp")
    )
    w = W.orderBy(F.col("bin").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = grouped.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).alias("_cn"),
        F.sum("pos").over(w).alias("_cp"),
    )
    share = F.col("_cn").cast("double") / F.col("_tn")
    # zero positives in the corpus: recall/lift are undefined — NULL
    # (diagnosable), never an ANSI divide error
    recall = F.when(F.col("_tp") > 0, F.col("_cp").cast("double") / F.col("_tp"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "pos",
            F.round(share, 6).alias("cum_frac_examples"),
            F.round(recall, 6).alias("cum_recall"),
            F.round(recall / share, 6).alias("lift"),
        )
    )


def autocorrelation(
    events: DataFrame,
    group: str = "event_type",
    ts_col: str = "ts_ms",
    max_lag: int = 7,
) -> DataFrame:
    """Lag-k autocorrelation of daily event counts per group, k = 1..
    max_lag — the seasonality/burst-memory readout that picks smoothing
    windows and anomaly baselines (a strong lag-7 says weekly cycle;
    fast decay says bursts are short): ACF_k = Σ(x_t−m)(x_{t+k}−m) /
    Σ(x_t−m)² over the observed day grid.

    One daily-count aggregate (the only corpus pass), then everything —
    mean, denominator, the lag-exploded self-join — runs on the bounded
    |groups|×|days| grid. The mean pins to 9 dp and every product term
    quantizes to 9-dp DECIMAL, so both sums are order-free."""
    daily = (
        events.select(
            F.col(group).alias("g"), F.expr(f"{ts_col} div 86400000").alias("day")
        )
        .groupBy("g", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # the day grid feeds mean, denominator, and both join sides
    daily = daily.localCheckpoint(eager=False)
    m = daily.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("_sx"),
    )
    mean = m.select(
        "g",
        "n_days",
        F.round(F.col("_sx").cast("double") / F.col("n_days"), 9).alias("mu"),
    )
    centered = daily.join(F.broadcast(mean), "g").select(
        "g", "day", "mu", (F.col("c").cast("double") - F.col("mu")).alias("dx")
    )
    denom = centered.groupBy("g").agg(
        F.sum(F.round(F.col("dx") * F.col("dx"), 9).cast("decimal(28,9)")).alias(
            "_den"
        )
    )
    lags = F.explode(F.array(*[F.lit(k) for k in range(1, max_lag + 1)])).alias(
        "lag"
    )
    lhs = centered.select("g", "day", F.col("dx").alias("dx1"), lags)
    rhs = centered.select(
        "g", F.col("day").alias("day2"), F.col("dx").alias("dx2")
    )
    pairs = lhs.join(
        rhs,
        (lhs["g"] == rhs["g"]) & (rhs["day2"] == lhs["day"] + F.col("lag")),
    ).select(lhs["g"].alias("g"), "lag", "dx1", "dx2")
    num = pairs.groupBy("g", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.round(F.col("dx1") * F.col("dx2"), 9).cast("decimal(28,9)")).alias(
            "_num"
        ),
    )
    return (
        num.join(F.broadcast(denom), "g")
        .select(
            F.col("g").alias(group),
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            F.round(
                F.col("_num").cast("double") / F.col("_den").cast("double"), 6
            ).alias("acf"),
        )
    )


def holt_forecast(
    events: DataFrame,
    group: str = "event_type",
    ts_col: str = "ts_ms",
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing (Holt 1957) over daily
    event counts per group — the capacity-planning forecast one notch
    above a moving average: level + trend recursion

        l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}

    initialized l₁ = x₁, b₁ = x₂ − x₁, folded in day order; the report
    is the final state and the h-step forecasts l + h·b for h = 1, 7.

    The recursion is sequential but the SERIES is the bounded day grid
    (cusum_drift's contract): one daily-count aggregate, then a
    sort_array + aggregate() fold per group — deterministic because the
    inputs are exact integer counts and both engines replay the same
    double chain (the oracle walks it as a recursive CTE). The (1−α),
    (1−β) factors are passed as EXPLICIT literals — 1-0.3 is not the
    same IEEE double as 0.7."""
    one_m_alpha = {0.5: 0.5, 0.3: 0.7}.get(alpha, None)
    one_m_beta = {0.5: 0.5, 0.3: 0.7}.get(beta, None)
    if one_m_alpha is None or one_m_beta is None:
        raise ValueError(
            "alpha/beta limited to {0.5, 0.3}: the complement literal must "
            "be written exactly in both engines (1-x drifts a ulp)"
        )
    daily = (
        events.select(
            F.col(group).alias("g"), F.expr(f"{ts_col} div 86400000").alias("day")
        )
        .groupBy("g", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    series = daily.groupBy("g").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "c"))),
            lambda s: s["c"].cast("double"),
        ).alias("xs")
    )
    x1 = F.element_at("xs", 1)
    x2 = F.element_at("xs", 2)
    init = F.struct(x1.alias("l"), (x2 - x1).alias("b"))
    rest = F.slice("xs", 2, F.greatest(F.size("xs") - 1, F.lit(0)))
    state = F.aggregate(
        rest,
        init,
        lambda acc, x: F.struct(
            (
                F.lit(alpha) * x + F.lit(one_m_alpha) * (acc["l"] + acc["b"])
            ).alias("l"),
            (
                F.lit(beta)
                * (
                    F.lit(alpha) * x
                    + F.lit(one_m_alpha) * (acc["l"] + acc["b"])
                    - acc["l"]
                )
                + F.lit(one_m_beta) * acc["b"]
            ).alias("b"),
        ),
    )
    return (
        series.filter(F.size("xs") >= 2)
        .select("g", F.size("xs").alias("n_days"), state.alias("_st"))
        .select(
            F.col("g").alias(group),
            "n_days",
            F.round(F.col("_st.l"), 6).alias("level"),
            F.round(F.col("_st.b"), 6).alias("trend"),
            F.round(F.col("_st.l") + F.col("_st.b"), 6).alias("forecast_1d"),
            F.round(F.col("_st.l") + F.lit(7.0) * F.col("_st.b"), 6).alias(
                "forecast_7d"
            ),
        )
    )


def aa_test(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    split_a: "F.Column",
    z_bound: float = 1.959964,
) -> DataFrame:
    """A/A placebo test — split ONE arm by an independent hash bit and
    run the same two-sample z on per-unit sums: the result must be
    null, and a |z| past the bound means the instrumentation or the
    split itself is broken (the cheapest end-to-end health check an
    experimentation stack has; run it continuously, before any real
    readout is trusted).

    Same per-unit DECIMAL moment discipline as mde_power; one row:
    sizes, means, z_stat, and the |z| < 1.96 pass verdict."""
    dec = "decimal(18,9)"
    per_unit = df.groupBy(F.col(unit_col), split_a.alias("_a")).agg(
        F.sum(F.round(F.col(value_col), 9).cast(dec)).cast(dec).alias("_v")
    )
    is_a = F.col("_a")
    zero = F.lit(0).cast(dec)
    zero2 = F.lit(0).cast("decimal(38,18)")
    sq = (F.col("_v") * F.col("_v")).cast("decimal(38,18)")
    m = per_unit.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~is_a, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(is_a, F.col("_v")).otherwise(zero)).alias("s1"),
        F.sum(F.when(~is_a, F.col("_v")).otherwise(zero)).alias("s2"),
        F.sum(F.when(is_a, sq).otherwise(zero2)).alias("ss1"),
        F.sum(F.when(~is_a, sq).otherwise(zero2)).alias("ss2"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    ss1, ss2 = F.col("ss1").cast("double"), F.col("ss2").cast("double")
    # <2 units on a side: no variance -> NULL z_stat/aa_pass (an A/A
    # over a degenerate split is undiagnosable, and should SAY so)
    v1 = F.when(F.col("n1") >= 2, (ss1 - s1 * s1 / n1) / (n1 - 1))
    v2 = F.when(F.col("n2") >= 2, (ss2 - s2 * s2 / n2) / (n2 - 1))
    pooled_se = F.sqrt(v1 / n1 + v2 / n2)
    z = F.when(pooled_se > 0, (s1 / n1 - s2 / n2) / pooled_se)
    return m.select(
        F.col("n1").alias("n_a1"),
        F.col("n2").alias("n_a2"),
        F.round(F.when(F.col("n1") >= 1, s1 / n1), 6).alias("mean_a1"),
        F.round(F.when(F.col("n2") >= 1, s2 / n2), 6).alias("mean_a2"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(F.round(z, 6)) < z_bound).alias("aa_pass"),
    )


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_col: str,
    qs: tuple = (0.5, 0.9),
) -> DataFrame:
    """Grouped WEIGHTED quantiles — the primitive Spark does not ship:
    the smallest value v such that Σ weight(rows ≤ v) ≥ q·W. The
    curation read this exists for: a char-weighted median quality is
    the quality of the median BYTE the model will train on, not the
    median document — a corpus of many short clean docs and a few huge
    dirty ones has a high doc-median and a low byte-median, and only
    the second one predicts the training mix.

    One (group)-keyed sort window for the cumulative weight, then a
    conditional-min aggregate per q — no explode, no per-q pass.
    Ties in value pick the same v under any within-tie order (the
    boundary row's VALUE is what's selected, and tied rows share it).

    Weight contract: weights accumulate as exact DECIMAL(24,6)
    (order-free sums, engine-reproducible boundaries, ~1e28 of
    cumulative headroom — a long would overflow a 100 TB char-mass
    group; a double would shift boundaries past 2⁵³). A fractional
    weight column (score mass, token fractions) is NOT silently
    truncated — it quantizes to 6 dp, preserving quantile boundaries
    to a part in 10⁶ of the weight mass; integer weights (the row /
    token / byte count cases this was built for) are bit-exact, and
    the boundary test q·W stays in decimal arithmetic so no float
    rounding can flip it. w_total reports in caller units (floor for
    fractional weights)."""
    from pyspark.sql import Window as W

    wc = (
        W.partitionBy(group_col)
        .orderBy("_v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy(group_col)
    staged = df.select(
        group_col,
        F.col(value_col).alias("_v"),
        F.round(F.col(weight_col).cast("double"), 6)
        .cast("decimal(24,6)")
        .alias("_w"),
    ).select(
        group_col,
        "_v",
        F.sum("_w").over(wc).alias("_cw"),
        F.sum("_w").over(wtot).alias("_W"),
    )
    aggs = [F.max("_W").cast("long").alias("w_total")]
    for q in qs:
        qdec = F.lit(f"{q:.6f}").cast("decimal(8,6)")
        aggs.append(
            F.min(
                F.when(F.col("_cw") >= qdec * F.col("_W"), F.col("_v"))
            ).alias(f"wq{int(round(q * 100)):02d}")
        )
    return staged.groupBy(group_col).agg(*aggs)


def sample_size_grid(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    arm_col: str,
    rel_effects: tuple = (0.01, 0.02, 0.05, 0.1),
    control: str = "control",
    treatment: str = "treatment",
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> DataFrame:
    """Required sample size per arm for a target RELATIVE lift — the
    inverse of mde_power, and the planning table a platform pins to an
    experiment brief: n = ⌈(z_{α/2}+z_β)²·(s²_c+s²_t)/δ²⌉ with
    δ = rel·x̄_c, across a literal grid of candidate effects. Same
    per-unit DECIMAL moment pass as mde_power; the grid join runs on
    one broadcast row."""
    dec = "decimal(18,9)"
    per_unit = df.groupBy(unit_col, arm_col).agg(
        F.sum(F.round(F.col(value_col), 9).cast(dec)).cast(dec).alias("_v")
    )
    is_c = F.col(arm_col) == control
    is_t = F.col(arm_col) == treatment
    zero = F.lit(0).cast(dec)
    zero2 = F.lit(0).cast("decimal(38,18)")
    sq = (F.col("_v") * F.col("_v")).cast("decimal(38,18)")
    m = per_unit.agg(
        F.sum(F.when(is_c, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(is_t, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(is_c, F.col("_v")).otherwise(zero)).alias("sc"),
        F.sum(F.when(is_t, F.col("_v")).otherwise(zero)).alias("st"),
        F.sum(F.when(is_c, sq).otherwise(zero2)).alias("scc"),
        F.sum(F.when(is_t, sq).otherwise(zero2)).alias("stt"),
    )
    grid = df.sparkSession.range(0, len(rel_effects)).select(
        F.element_at(
            F.array(*[F.lit(float(r)) for r in rel_effects]),
            (F.col("id") + 1).cast("int"),
        ).alias("rel_effect")
    )
    nc, nt = F.col("nc").cast("double"), F.col("nt").cast("double")
    sc, st = F.col("sc").cast("double"), F.col("st").cast("double")
    scc, stt = F.col("scc").cast("double"), F.col("stt").cast("double")
    # mde_power's degenerate-arm guards: <2 units -> NULL variance;
    # zero control mean -> zero delta -> NULL n_per_arm (not Infinity)
    var_c = F.when(F.col("nc") >= 2, (scc - sc * sc / nc) / (nc - 1))
    var_t = F.when(F.col("nt") >= 2, (stt - st * st / nt) / (nt - 1))
    delta = F.when(F.col("nc") >= 1, F.col("rel_effect") * (sc / nc))
    n_req = F.when(
        delta != 0,
        F.ceil(
            (F.lit(z_alpha) + F.lit(z_power))
            * (F.lit(z_alpha) + F.lit(z_power))
            * (var_c + var_t)
            / (delta * delta)
        ),
    )
    return grid.crossJoin(F.broadcast(m)).select(
        "rel_effect",
        F.round(delta, 6).alias("delta_abs"),
        n_req.cast("long").alias("n_per_arm"),
    )


def mann_kendall(
    events: DataFrame,
    group: str = "event_type",
    ts_col: str = "ts_ms",
    z_bound: float = 1.959964,
) -> DataFrame:
    """Mann–Kendall nonparametric trend test over daily counts per
    group — the significance companion to theil_sen_trend (Theil–Sen
    gives the robust slope, MK says whether a monotone trend is THERE
    at all, with no normality assumption):

        S = Σ_{i<j} sign(x_j − x_i),
        Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18   (tie-corrected)
        z = (S∓1)/√Var  (continuity-corrected toward 0)

    Everything is exact integer arithmetic on the bounded day grid
    (one daily-count aggregate is the only corpus pass; the pair
    enumeration is |days|² per group — the ks_test bounded-grid
    contract); only z is a double."""
    daily = (
        events.select(
            F.col(group).alias("g"), F.expr(f"{ts_col} div 86400000").alias("day")
        )
        .groupBy("g", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # the day grid feeds pairs (twice), tie groups, and n
    daily = daily.localCheckpoint(eager=False)
    lhs = daily.select("g", F.col("day").alias("d1"), F.col("c").alias("x1"))
    rhs = daily.select("g", F.col("day").alias("d2"), F.col("c").alias("x2"))
    s = (
        lhs.join(rhs, "g")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("g")
        .agg(F.sum(F.signum(F.col("x2") - F.col("x1")).cast("long")).alias("s"))
    )
    ties = (
        daily.groupBy("g", "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("_ng"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("corr"),
        )
    )
    n = daily.groupBy("g").agg(F.count(F.lit(1)).alias("n_days"))
    joined = n.join(s, "g").join(ties.select("g", "corr"), "g")
    nn = F.col("n_days")
    var_s = (
        (nn * (nn - 1) * (2 * nn + 5) - F.col("corr")).cast("double") / 18
    )
    z = F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s)).when(
        F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    return joined.select(
        F.col("g").alias(group),
        "n_days",
        F.col("s").alias("s_stat"),
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(F.round(z, 6) >= z_bound, "increasing")
        .when(F.round(z, 6) <= -z_bound, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


def runs_test(
    events: DataFrame,
    group: str = "event_type",
    ts_col: str = "ts_ms",
    z_bound: float = 1.959964,
) -> DataFrame:
    """Wald–Wolfowitz runs test on daily counts vs their group median —
    the distribution-free serial-dependence check beside
    autocorrelation (ACF measures HOW values co-move; the runs test
    asks the yes/no question "is this sequence even random?", which is
    what gates using iid-based control limits at all). Sign = count >
    interpolated median (the >-vs-≤ split is the documented tie rule);
    R = 1 + sign changes in day order;
    μ = 2n₁n₂/n + 1, σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1)), z = (R−μ)/σ.

    One daily aggregate, a per-group median, and a keyed lag over the
    bounded day grid — counts exact, z the only double."""
    from pyspark.sql import Window as W

    daily = (
        events.select(
            F.col(group).alias("g"), F.expr(f"{ts_col} div 86400000").alias("day")
        )
        .groupBy("g", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    daily = daily.localCheckpoint(eager=False)
    med = daily.groupBy("g").agg(F.percentile("c", F.lit(0.5)).alias("med"))
    signed = daily.join(F.broadcast(med), "g").select(
        "g", "day", (F.col("c") > F.col("med")).cast("int").alias("sgn")
    )
    w = W.partitionBy("g").orderBy("day")
    runs = signed.select(
        "g",
        "sgn",
        F.when(
            F.lag("sgn").over(w).isNull()
            | (F.lag("sgn").over(w) != F.col("sgn")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    agg = runs.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("sgn").alias("n_above"),
        F.sum(1 - F.col("sgn")).alias("n_below"),
        F.sum("chg").alias("runs"),
    )
    n1, n2 = F.col("n_above").cast("double"), F.col("n_below").cast("double")
    nn = F.col("n_days").cast("double")
    mu = 2 * n1 * n2 / nn + 1
    # one day, or every day on one side of the median: σ² = 0 and the
    # z statistic is undefined — NULL z / NULL verdict, never an ANSI
    # divide error
    var = F.when(
        (F.col("n_days") >= 2) & (F.col("n_above") > 0) & (F.col("n_below") > 0),
        2 * n1 * n2 * (2 * n1 * n2 - nn) / (nn * nn * (nn - 1)),
    )
    z = F.when(var > 0, (F.col("runs") - mu) / F.sqrt(var))
    return agg.select(
        F.col("g").alias(group),
        "n_days",
        "n_above",
        "n_below",
        "runs",
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) < z_bound).alias("random"),
    )


def confusion_matrix(
    df: DataFrame,
    true_col: str,
    pred_col: str,
) -> DataFrame:
    """Confusion matrix with row-normalized shares — the generic
    labeled-eval primitive (cohens_kappa reports agreement as ONE
    number; this is the full breakdown that says WHICH classes
    confuse): per (true, pred) cell the count and its share of the
    true class. One grouped count + a window over the |classes|² cell
    table."""
    from pyspark.sql import Window as W

    cells = df.groupBy(
        F.col(true_col).alias("true_label"), F.col(pred_col).alias("pred_label")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(W.partitionBy("true_label"))
    return cells.select(
        "true_label",
        "pred_label",
        "n",
        F.round(F.col("n") / tot, 6).alias("share_of_true"),
    )
