"""bench.py harness helpers that run without a Spark session."""

from __future__ import annotations

import bench


def test_latest_round_snapshot_skips_non_round_names(tmp_path):
    """Only BENCH_FULL_r<N>.json names are round snapshots: an ad-hoc
    BENCH_FULL_r9_sameday.json once crashed the round parser after every
    timed query had run."""
    for name in ("BENCH_FULL_r9.json", "BENCH_FULL_r10.json", "BENCH_FULL_r9_sameday.json"):
        (tmp_path / name).write_text("{}")
    assert bench._latest_round_snapshot(str(tmp_path)) == (
        10,
        str(tmp_path / "BENCH_FULL_r10.json"),
    )


def test_latest_round_snapshot_none_without_rounds(tmp_path):
    (tmp_path / "BENCH_FULL.json").write_text("{}")
    (tmp_path / "BENCH_SAMEDAY_r9.json").write_text("{}")
    assert bench._latest_round_snapshot(str(tmp_path)) is None
