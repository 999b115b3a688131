"""Round-10 optimization pins: worker allocator retention, the blocked
all-pairs kernel width pin, the shared-postings n guard, and the bench
host probe."""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.01"


def test_worker_allocator_retention_reaches_python_workers(spark):
    """r10-opt: the session routes MALLOC_TRIM_THRESHOLD_ / MALLOC_MMAP_
    THRESHOLD_ / ARROW_DEFAULT_MEMORY_POOL to the Python worker daemons
    via spark.executorEnv.* — the worker-side counterpart of the JVM's
    AlwaysPreTouch (reused workers fault their high-water mark once and
    keep the pages instead of re-faulting fresh mmap pages per task).
    Verified end-to-end: a worker reports its actual environment."""
    conf_vals = {
        k: spark.conf.get(f"spark.executorEnv.{k}", None)
        for k in (
            "MALLOC_TRIM_THRESHOLD_",
            "MALLOC_MMAP_THRESHOLD_",
            "ARROW_DEFAULT_MEMORY_POOL",
        )
    }
    assert conf_vals["MALLOC_TRIM_THRESHOLD_"] == "-1"
    assert conf_vals["MALLOC_MMAP_THRESHOLD_"] == "1073741824"
    assert conf_vals["ARROW_DEFAULT_MEMORY_POOL"] == "system"

    def report(batches):
        import os

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "trim": [os.environ.get("MALLOC_TRIM_THRESHOLD_", "")],
                "pool": [os.environ.get("ARROW_DEFAULT_MEMORY_POOL", "")],
            }
        )

    row = (
        spark.range(1)
        .mapInPandas(report, "trim string, pool string")
        .collect()[0]
    )
    assert row.trim == "-1"
    assert row.pool == "system"


def test_all_pairs_blocked_kernel_width_pinned(spark):
    """ADVICE r9: all_pairs_above_blocked's groupBy(bl,br) kernel input
    routes through _pin_kernel_width like the other grouped Arrow
    kernels, so the lowered AQE coalescing floor cannot re-fan its small
    compute-dense shuffle into near-empty Arrow tasks."""
    from nnanalytics_spark.pipeline import similarity as _s

    assert "_pin_kernel_width" in inspect.getsource(_s.all_pairs_above_blocked)
    # behavior unchanged: blocked result still matches the broadcast path
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(300)
    blocked = sorted(
        map(
            tuple,
            _s.all_pairs_above_blocked(
                emb, threshold=0.4, rows_per_block=128
            ).collect(),
        )
    )
    broadcast = sorted(
        map(tuple, _s.all_pairs_above(emb, threshold=0.4).collect())
    )
    assert blocked == broadcast


def test_shared_postings_n_mismatch_raises(spark):
    """ADVICE r9: a postings= table built with a different shingle n than
    the consumer's own arguments is a silent-wrong-results trap; the
    width now rides the column metadata and mismatches raise."""
    from nnanalytics_spark.pipeline import dedup as _d

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    occ2 = _d.shingle_postings(docs, n=2)
    with pytest.raises(ValueError, match="n=2"):
        _d.ngram_jaccard_pairs(docs, threshold=0.5, postings=occ2)
    with pytest.raises(ValueError, match="n=2"):
        _d.minhash_signatures(docs, ngram=3, postings=occ2)
    # matching n passes and survives a checkpoint (metadata rides the
    # schema through localCheckpoint)
    occ3 = _d.shingle_postings(docs, n=3).localCheckpoint(eager=False)
    assert _d.ngram_jaccard_pairs(docs, threshold=0.5, postings=occ3).columns == [
        "id_a",
        "id_b",
        "jaccard",
    ]


def test_write_partitioned_hot_partition_salt(spark, tmp_path):
    """VERDICT r9 #8: clustering by the partition value alone makes ONE
    task the serial writer of a hot value; salt_tasks spreads it over
    several writer tasks/files (deterministic row-content salt, never
    rand()). Defaults keep the one-file-per-directory layout."""
    import os

    from pyspark.sql import functions as F

    from nnanalytics_spark.sources import layout

    # skewed: 10k rows, 95% in partition src=hot
    df = spark.range(10_000).select(
        F.col("id"),
        F.when(F.col("id") % 20 == 0, "cold").otherwise("hot").alias("src"),
    )

    def files_in(base, val):
        d = os.path.join(base, f"src={val}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    p1 = str(tmp_path / "default")
    layout.write_partitioned(df, p1, "src")
    assert len(files_in(p1, "hot")) == 1  # unchanged default layout

    p2 = str(tmp_path / "salted")
    layout.write_partitioned(df, p2, "src", salt_tasks=4)
    assert len(files_in(p2, "hot")) > 1  # hot value spread over >1 task
    # row content identical either way
    a = sorted(map(tuple, spark.read.parquet(p1).collect()))
    b = sorted(map(tuple, spark.read.parquet(p2).collect()))
    assert a == b

    p3 = str(tmp_path / "capped")
    layout.write_partitioned(df, p3, "src", max_records_per_file=1000)
    assert len(files_in(p3, "hot")) >= 9  # 9500 hot rows / 1000-row cap


def test_no_data_microbatches_disabled_by_default(spark):
    """r10-opt: the engine's streaming operators advance watermarks with
    data (sentinel segments), so the trailing no-data micro-batch only
    fires sentinel-key timeouts that every harness filters out — one
    state stage + commit cycle per streaming query for nothing. Verified
    row-identical on all 8 streaming parity queries at sf0.01 and sf0.1;
    env-tunable for pipelines that need quiescent-stream timeouts."""
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        == "false"
    )


def test_bench_host_probe_shape():
    """VERDICT r9 #1: every bench artifact carries a host-health probe so
    storm-priced runs are detectable from the artifact alone."""
    import bench

    p = bench._host_probe()
    assert set(p) == {"alloc", "cpu"}
    assert p["alloc"] > 0 and p["cpu"] > 0


def test_smoke_lane_files_exist():
    """VERDICT r9 #2: the SPARK_GRAFT_SMOKE=1 fast gate deselects by file
    name; a renamed test file must fail here rather than silently shrink
    the smoke selection to nothing."""
    import conftest

    tests_dir = Path(conftest.__file__).resolve().parent
    for fname in conftest.SMOKE_FILES:
        assert (tests_dir / fname).is_file(), f"smoke-lane file missing: {fname}"


def test_smoke_lane_fails_on_uncollected_file(tmp_path):
    """The smoke lane refuses to run when a SMOKE_FILES name matched no
    collected test, so a rename cannot shrink the gate unnoticed."""
    import os
    import subprocess

    tests_dir = Path(__file__).resolve().parent
    env = {**os.environ, "SPARK_GRAFT_SMOKE": "1"}
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", str(tests_dir / "test_render.py"),
         "--collect-only", "-q", "-p", "no:cacheprovider"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode != 0
    assert "test_oracle_battery.py" in proc.stdout + proc.stderr
