"""Plan-quality regression tests: assert the physical plans the engine is
designed to produce (pushdown, pruning, broadcast, partial aggregation).
These guard the 100 TB properties that row-count tests can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nnanalytics_spark.core.ir import Query
from nnanalytics_spark.inode import fixture
from nnanalytics_spark.inode.engine import INodeEngine
from nnanalytics_spark.sources import layout


@pytest.fixture(scope="module")
def stored(spark, inodes, tmp_path_factory):
    """Inode table in the production layout (type-partitioned parquet)."""
    path = str(tmp_path_factory.mktemp("layout") / "inodes")
    layout.write_inode_table(inodes, path, path_partitions=4)
    return layout.read_inode_table(spark, path)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushes_to_parquet_scan(stored):
    eng = INodeEngine(stored)
    q = Query(set="files", filters=[("fileSize", "eq", "0")], sums=["count"],
              now_ms=fixture.NOW_MS)
    plan = plan_of(eng.filter_sum(q))
    assert "PushedFilters: [" in plan
    assert "EqualTo(fileSize,0)" in plan, plan


def test_set_selection_prunes_partitions(stored):
    eng = INodeEngine(stored)
    q = Query(set="dirs", sums=["count"], now_ms=fixture.NOW_MS)
    plan = plan_of(eng.filter_sum(q))
    # type=dir must reach PartitionFilters (pruning), not a post-scan Filter
    assert "PartitionFilters" in plan
    assert "type" in plan.split("PartitionFilters")[1].split("]")[0]


def test_column_pruning_narrow_read_schema(stored):
    eng = INodeEngine(stored)
    q = Query(set="files", filters=[("fileSize", "gt", "0")], sums=["fileSize"],
              now_ms=fixture.NOW_MS)
    plan = plan_of(eng.filter_sum(q))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "fileSize" in read_schema
    assert "accessTime" not in read_schema  # untouched column is not read


def test_histogram_uses_partial_aggregation(stored):
    eng = INodeEngine(stored)
    q = Query(set="files", type="user", sums=["count"], now_ms=fixture.NOW_MS)
    plan = plan_of(eng.histogram(q))
    assert "partial_count" in plan  # map-side combine before the exchange


def test_content_summary_prefix_pushdown(stored):
    eng = INodeEngine(stored)
    plan = plan_of(eng.content_summary("/dir0"))
    assert "StringStartsWith(path,/dir0/)" in plan or "startswith" in plan.lower()


def test_zero_fill_join_stays_in_the_aggregate_task(stored):
    """The zero-fill joins the one-partition bin dimension to the
    aggregate coalesced to one partition: no broadcast job, no sort-merge
    join, and no exchange past the aggregate's own."""
    eng = INodeEngine(stored)
    q = Query(set="files", type="modTime", sums=["count"], time_range="yearly",
              now_ms=fixture.NOW_MS)
    plan = plan_of(eng.histogram(q))
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastExchange" not in plan and "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_whole_stage_codegen_covers_filter_agg(stored):
    eng = INodeEngine(stored)
    q = Query(set="files", filters=[("fileSize", "gt", "1024")], sums=["fileSize"],
              now_ms=fixture.NOW_MS)
    df = eng.filter_sum(q)
    df.collect()  # AQE finalizes (and codegens) the plan only on execution
    plan = plan_of(df)
    # '*(n)' prefixes are WholeStageCodegen stage markers in tree form
    assert "*(1)" in plan, plan


def test_find_extremum_is_take_ordered(stored):
    eng = INodeEngine(stored)
    q = Query(set="files", finds=["max:fileSize"], now_ms=fixture.NOW_MS)
    plan = plan_of(eng.find_extremum(q))
    assert "TakeOrderedAndProject" in plan  # top-1 without a global sort


def test_transforms_fold_into_scan_stage(stored):
    """Transforms are per-row CASE expressions — they must not add a
    shuffle or extra stage."""
    eng = INodeEngine(stored)
    q = Query(
        set="files",
        sums=["diskspaceConsumed"],
        transforms=[([("fileReplica", "gte", "2")], "fileReplica", 1)],
        now_ms=fixture.NOW_MS,
    )
    plan = plan_of(eng.filter_sum(q))
    assert plan.count("Exchange") == 1  # only the final single-row agg exchange
