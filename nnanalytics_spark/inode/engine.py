"""INodeEngine — compiles the logical query tuple to DataFrame plans.

This is the PySpark re-expression of the reference's execution stack
(JavaStreamQueryEngine + HistogramInvoker + NamenodeAnalyticsMethods
handler bodies). Where the reference fuses lambdas over a parallel stream
on one JVM, this engine declares the same computation as Catalyst plans:

    filter AND-chain  → codegen'd Filter over a pruned Parquet scan
    sums / finds      → partial-aggregated agg (map-side combine)
    histogram         → groupBy(bin expression).agg(...)
    post-ops          → small-result DataFrame ops (having/top/sort/zero-fill)

Queries are *not* serialized through a global lock (the reference runs one
query at a time, NamenodeAnalyticsMethods.java:1535); Spark's scheduler
runs them concurrently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nnanalytics_spark.core import aggregates as agg
from nnanalytics_spark.core import filters as flt
from nnanalytics_spark.core import postops
from nnanalytics_spark.core.ir import Query
from nnanalytics_spark.inode import bins
from nnanalytics_spark.inode import columns as reg
from nnanalytics_spark.inode import subtree

class INodeEngine:
    """Query surface over one inode DataFrame (stored schema, fixture.py).

    Plan pieces that no request parameter changes (the /dump projection,
    the /contentSummary sums, registry columns and histogram keys, the
    /info counts) are built once per table, on first use, and dropped
    when ``inodes`` is reassigned (/refresh), so a new table is never
    served through plans built over the old one."""

    def __init__(self, inodes: DataFrame):
        self.inodes = inodes

    @property
    def inodes(self) -> DataFrame:
        return self._inodes

    @inodes.setter
    def inodes(self, df: DataFrame) -> None:
        self._inodes = df
        # table first: a piece built after the new dict appears sees it
        self._pieces: dict = {}

    def _piece(self, name: str, build):
        """``build()`` once per table; concurrent first uses may each
        build, and any of the equal results is kept."""
        pieces = self._pieces
        if name not in pieces:
            pieces[name] = build()
        return pieces[name]

    # ------------------------------------------------------------- helpers
    @staticmethod
    def _set_predicate(inode_set: str) -> Column | None:
        """The INode set (AbstractQueryEngine.getINodeSet) as a predicate;
        None for ``all``."""
        if inode_set == "files":
            return F.col("type") == "file"
        if inode_set == "dirs":
            return F.col("type") == "dir"
        return None

    def _base(self, *queries: Query) -> DataFrame:
        """Attach join-produced columns only when one of ``queries``
        touches them, and select their INode set when they share one."""
        df = self.inodes
        touched: set = set()
        for q in queries:
            touched |= {f for f, _, _ in q.filters} | set(q.sums)
            touched |= {q.type, q.type2} - {None}
        if touched & {"dirSubTreeSize", "dirSubTreeNumFiles", "dirSubTreeNumDirs"}:
            df = subtree.with_subtree_aggregates(df)
        if touched & {"isUnderNsQuota", "isUnderDsQuota"}:
            df = subtree.with_quota_flags(df)
        sets = {q.set for q in queries}
        in_set = self._set_predicate(sets.pop()) if len(sets) == 1 else None
        return df.filter(in_set) if in_set is not None else df

    def _column(self, df: DataFrame, name: str, query: Query) -> Column:
        """Resolve a registry column, applying transforms (§2.6) if set.
        Registry expressions name stored columns and never bind to a
        frame, so an untransformed one is built once per table."""
        spec = reg.COLUMNS[name]
        if query.transforms:
            return self._apply_transform(df, name, spec.expr(df), query)
        return self._piece(("column", name), lambda: spec.expr(df))

    def _apply_transform(
        self, df: DataFrame, name: str, expr: Column, query: Query
    ) -> Column:
        """Conditional column rewrite before aggregation
        (Transforms.java:58-230): fileReplica → N, and the replica-derived
        columns recomputed from the transformed replica.

        Each transform triple keeps ITS OWN condition (position-aligned,
        `query.transforms`); overlapping conditions resolve first-triple-
        wins via reverse-order when-chaining."""
        for conds, fld, replacement in reversed(query.transforms):
            if fld != "fileReplica":
                continue
            cond = flt.and_chain(
                [
                    flt.compile_predicate(
                        reg.COLUMNS[f].expr(df), reg.COLUMNS[f].dtype, op, val, query.now_ms
                    )
                    for f, op, val in conds
                ]
            )
            if cond is None:
                cond = F.lit(True)
            if name == "fileReplica":
                expr = F.when(cond, F.lit(replacement)).otherwise(expr)
            elif name == "numReplicas":
                expr = F.when(cond, F.col("numBlocks") * replacement).otherwise(expr)
            elif name == "diskspaceConsumed":
                expr = F.when(cond, F.col("fileSize") * replacement).otherwise(expr)
        return expr

    @staticmethod
    def _validate(query: Query) -> None:
        reg.validate_query(
            query.set,
            query.filters,
            query.type,
            query.sums,
            [f.split(":", 1)[1] for f in query.finds if ":" in f],
        )

    def _predicate(self, df: DataFrame, query: Query, with_set: bool = False) -> Column | None:
        """AND of the query's filters, and of its set ``with_set``, or None."""
        predicates = [
            flt.compile_predicate(
                self._column(df, field, query), reg.COLUMNS[field].dtype, op, value, query.now_ms
            )
            for field, op, value in query.filters
        ]
        in_set = self._set_predicate(query.set) if with_set else None
        return flt.and_chain(predicates if in_set is None else [in_set, *predicates])

    def _filtered(self, query: Query) -> DataFrame:
        self._validate(query)
        df = self._base(query)
        chained = self._predicate(df, query)
        return df.filter(chained) if chained is not None else df

    def _sum_exprs(self, df: DataFrame, query: Query) -> list[Column]:
        out = []
        for s in query.sums:
            value = None if s == "count" else self._column(df, s, query)
            out.append(agg.sum_aggregate(value, s))
        for spec in query.finds:
            op, fld = spec.split(":", 1)
            out.append(agg.find_aggregate(self._column(df, fld, query), op, f"{op}_{fld}"))
        return out

    # ------------------------------------------------------- query shapes
    def run(self, query: Query) -> DataFrame:
        """The plan for ``query``, its shape read from the Query alone —
        the one entry the URL, SQL and cached-query front ends share
        (the reference runs every parsed request through one invoker,
        NamenodeAnalyticsMethods.java:2466-2515). /histogram3's K sums
        and finds are /histogram's one groupBy().agg, value columns in
        sums-then-finds order (NamenodeAnalyticsMethods.java:1890-1944)."""
        if query.type2 is not None:
            return self.histogram2(query)
        if query.type is not None:
            return self.histogram(query)
        if query.sums:
            return self.filter_sum(query)
        if query.finds:
            return self.find_extremum(query)
        return self.dump_paths(query)

    def filter_sum(self, query: Query) -> DataFrame:
        """/filter with sum(s): scalar aggregate(s) over the filtered set
        (AbstractQueryEngine.java:508-575; multi-sum
        NamenodeAnalyticsMethods.java:1482-1491 — one shared scan here)."""
        df = self._filtered(query)
        return df.agg(*self._sum_exprs(df, query))

    def dump_paths(self, query: Query) -> DataFrame:
        """/filter with no sum: emit paths sorted, limited
        (dumpINodePaths, AbstractQueryEngine.java:757-783)."""
        df = self._filtered(query).select("path").orderBy("path")
        return df.limit(query.limit) if query.limit else df

    def find_extremum(self, query: Query) -> DataFrame:
        """/filter&find=min|max:field → the extremal INode row
        (findFilter, AbstractQueryEngine.java:470-498). TotalOrder sort +
        limit 1; Spark executes it as a TakeOrdered, no full sort."""
        op, fld = query.finds[0].split(":", 1)
        df = self._filtered(query)
        key = self._column(df, fld, query)
        order = key.asc() if op == "min" else key.desc()
        return df.select("path", key.alias(fld)).orderBy(order, F.col("path")).limit(1)

    def histogram(self, query: Query) -> DataFrame:
        """/histogram: filter → groupBy(type) → sum|find → post-ops
        (HistogramInvoker.java:133-185). Returns (key, value...) DataFrame."""
        df = self._filtered(query)
        key = self._group_key(df, query.type, query)
        values = self._sum_exprs(df, query)
        out = df.groupBy(key.alias(query.type)).agg(*values)
        return self._post_process(out, query)

    def histogram2(self, query: Query) -> DataFrame:
        """/histogram2: two-level grouping
        (genericTwoLevelHistogram, AbstractQueryEngine.java:934-945)."""
        df = self._filtered(query)
        k1 = self._group_key(df, query.type, query).alias(query.type)
        k2 = self._group_key(df, query.type2, query).alias(query.type2)
        return df.groupBy(k1, k2).agg(*self._sum_exprs(df, query))

    def divide(self, q1: Query, q2: Query) -> DataFrame:
        """/divide: sum(query1) / sum(query2)
        (NamenodeAnalyticsMethods.java:1310-1393), both sums in ONE
        aggregate over one scan. Each side is a conditional aggregate:
        its own set (unless the two share one, which then filters the
        scan) AND its own filters, its columns transformed by its own
        transforms. A side no row satisfies sums to null, or counts 0,
        as a filtered aggregate would."""
        for q in (q1, q2):
            self._validate(q)
        df = self._base(q1, q2)
        shared = q1.set == q2.set
        a, b = (self._side_sum(df, q, with_set=not shared) for q in (q1, q2))
        return df.agg((a.cast("double") / b.cast("double")).alias("ratio"))

    def _side_sum(self, df: DataFrame, query: Query, with_set: bool) -> Column:
        """``query``'s first sum over the rows of ``df`` its filters (and
        its set, ``with_set``) select."""
        cond = self._predicate(df, query, with_set)
        name = query.sums[0]
        value = F.lit(1) if name == "count" else self._column(df, name, query)
        if cond is not None:
            value = F.when(cond, value)
        return F.count(value) if name == "count" else F.sum(value)

    def content_summary(self, path: str) -> DataFrame:
        sums = self._piece("content_summary", subtree.content_summary_sums)
        return subtree.content_summary(self.inodes, path, sums)

    def _dump_projection(self) -> DataFrame:
        df = self.inodes
        return df.select(
            *[spec.expr(df).alias(name) for name, spec in reg.COLUMNS.items()
              if name not in reg.JOIN_PRODUCED]
        )

    def dump_inode(self, path: str) -> dict:
        """/dump analog: every §1.3 attribute of one inode
        (NamenodeAnalyticsMethods.java:747-770 → VersionContext.java:50-110).
        Point lookup over the table's projection, built once — Catalyst
        pushes the path predicate below the Project into the scan."""
        projected = self._piece("dump", self._dump_projection)
        rows = projected.filter(F.col("path") == path).collect()
        return rows[0].asDict() if rows else {}

    def info(self) -> dict:
        """/info + /loadingStatus analog (Constants.java:298-362 admin
        surface): namespace shape, counted once per table, + engine facts —
        where the reference reports NameNode loader state, we report the
        loaded table and the Spark session serving it."""
        by = self._piece("type_counts", self._type_counts)
        spark = self.inodes.sparkSession
        return {
            "sparkVersion": spark.version,
            "numFiles": int(by.get("file", 0)),
            "numDirs": int(by.get("dir", 0)),
            "numTotal": int(sum(by.values())),
            "columns": sorted(reg.COLUMNS),
        }

    def _type_counts(self) -> dict:
        return {r["type"]: r["count"] for r in self.inodes.groupBy("type").count().collect()}

    def metrics(self) -> dict:
        """/metrics + /threads analog: scheduler/executor counters from the
        Spark status tracker instead of JVM thread dumps."""
        sc = self.inodes.sparkSession.sparkContext
        tracker = sc.statusTracker()
        return {
            "activeJobs": len(tracker.getActiveJobsIds()),
            "activeStages": len(tracker.getActiveStageIds()),
            "defaultParallelism": int(sc.defaultParallelism),
        }

    # ------------------------------------------------------------ grouping
    def _group_key(self, df: DataFrame, type_name: str, query: Query) -> Column:
        """Histogram key expression (§2.4 dimension binning). A key no
        request parameter changes is built once per table; time buckets
        (relative to the request's ``now``), parentDir (its depth) and
        keys over transformed columns are built per request."""
        if type_name in ("accessTime", "modTime"):
            return bins.time_bucket(F.col(type_name), query.time_range, query.now_ms)
        if type_name == "parentDir":
            return self.parent_dir_at_depth(F.col("path"), query.parent_dir_depth)
        if query.transforms:
            return self._key(df, type_name, query)
        return self._piece(("key", type_name), lambda: self._key(df, type_name, query))

    def _key(self, df: DataFrame, type_name: str, query: Query) -> Column:
        if type_name in ("user", "group", "name", "path"):
            return F.col(type_name)
        if type_name in ("modDate", "accessDate"):
            return self._column(df, type_name, query)
        if type_name in ("fileSize", "diskspaceConsumed"):
            return bins.space_bucket(self._column(df, type_name, query))
        if type_name == "memoryConsumed":
            return bins.memory_bucket(self._column(df, "memoryConsumed", query))
        if type_name == "fileReplica":
            # EC-policied files bin under the policy name instead of the
            # replication factor (VersionContext.java:206-219); the default
            # HDFS erasure-coding policy name is the public constant.
            base = self._column(df, "fileReplica", query).cast("string")
            return F.when(F.col("hasEcPolicy"), F.lit("RS-6-3-1024k")).otherwise(base)
        if type_name == "storageType":
            return bins.storage_type_bucket(F.col("storagePolicyId"))
        if type_name == "fileType":
            return bins.file_type(F.col("name"))
        if type_name == "dirQuota":
            return F.col("path")
        raise reg.InvalidQueryError(f"unknown histogram type: {type_name!r}")

    @staticmethod
    def parent_dir_at_depth(path_col: Column, depth: int) -> Column:
        """Ancestor directory at the requested depth, else NO_MAPPING
        (Helper.getDirectoryAtDepthFunction, analytics/Helper.java:288-304).

        The ancestor AT ``depth`` is everything before the path's
        (depth+1)-th '/'. A path with fewer slashes sits above ``depth``
        (Path.depth of '/a/b' is 2, its parent's 1): substring_index then
        returns the whole path, so the prefix is kept only when shorter."""
        prefix = F.substring_index(path_col, "/", depth + 1)
        return F.when(F.length(prefix) < F.length(path_col), prefix).otherwise(
            F.lit("NO_MAPPING")
        )

    # --------------------------------------------------------- post-ops
    def _post_process(self, out: DataFrame, query: Query) -> DataFrame:
        """HistogramInvoker.java:133-185 pipeline: canonical bin order /
        NO_MAPPING cleanup → having → top/bottom → sort."""
        key_col = query.type
        value_cols = [c for c in out.columns if c != key_col]
        primary = value_cols[0]

        if query.type in ("accessTime", "modTime") and not (
            query.top or query.bottom or query.sort
        ):
            out = postops.order_by_key_order(
                out, key_col, value_cols, bins.time_keys(query.time_range)
            )
        if query.type == "parentDir":
            out = out.filter(F.col(key_col) != "NO_MAPPING")  # HistogramInvoker.java:165-167
        if query.type in ("fileType", "dirQuota"):
            out = out.filter(F.col(primary) > 0)  # HistogramInvoker.java:169-176

        if query.having:
            # indexed form "idx:op:value" (histogram3) has two colons per
            # condition; plain form "op:value" has one.
            if query.having.split(";")[0].count(":") == 2:
                out = postops.having_filter_indexed(out, value_cols, query.having)
            else:
                out = postops.having_filter(out, primary, query.having)
        if query.top:
            out = postops.slice_top(out, primary, query.top)
        if query.bottom:
            out = postops.slice_bottom(out, primary, query.bottom)
        if query.sort:
            out = postops.sort_by_value(out, primary, query.sort == "asc")
        return out
