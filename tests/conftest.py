from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from nnanalytics_spark.inode import fixture
from nnanalytics_spark.session import get_spark

# Fast gate (VERDICT r9 #2): the full suite is 20-60+ min and the driver's
# pytest window is shorter, so `SPARK_GRAFT_SMOKE=1 pytest tests/ -x -q`
# selects only the correctness core — the full oracle battery (the exact
# driver-gate comparison for every declared query), the plan-quality pins,
# and the degenerate-input probes. Measured ~14 min on a healthy host.
SMOKE_FILES = frozenset(
    {
        "test_oracle_battery.py",  # every queries() entry vs DuckDB
        "test_plans.py",           # pushdown/broadcast/codegen plan pins
        "test_entry_plans.py",     # per-query plan-shape pins (Exchange counts, ...)
        "test_planlint.py",        # anti-pattern linter self-checks
        "test_lint_all.py",        # whole-registry lint gate
        "test_degenerate.py",      # empty/single-row/NULL-input probes
    }
)

# Deselected inside smoke files: test_dtype_parity re-executes BOTH engines
# for all 331 oracle pairs — a second full battery pass (~6 min) whose
# result-affecting failures the battery's hash comparison already catches;
# the stricter dtype-class discipline stays enforced in the full suite.
SMOKE_DESELECT_TESTS = frozenset({"test_dtype_parity"})


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SMOKE") != "1":
        return
    # a renamed or uncollectable smoke file would otherwise shrink the
    # gate silently; the lane is run over the whole tests/ directory
    missing = SMOKE_FILES - {item.path.name for item in items}
    if missing:
        raise pytest.UsageError(
            f"SPARK_GRAFT_SMOKE=1: no tests collected from {sorted(missing)}"
        )
    keep, dropped = [], []
    for item in items:
        in_smoke = (
            item.path.name in SMOKE_FILES
            and getattr(item, "originalname", item.name) not in SMOKE_DESELECT_TESTS
        )
        (keep if in_smoke else dropped).append(item)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", **{"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def inodes_pdf():
    return fixture.generate_pandas(levels=2, dirs_per_level=3, files_per_dir=24)


@pytest.fixture(scope="session")
def inodes(spark, inodes_pdf):
    df = spark.createDataFrame(inodes_pdf, schema=fixture.SCHEMA)
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def engine(inodes):
    from nnanalytics_spark.inode.engine import INodeEngine

    return INodeEngine(inodes)
