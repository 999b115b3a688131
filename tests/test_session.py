"""Session defaults: the driver heap rule and PySpark call-site capture."""

from __future__ import annotations

from pyspark.errors import utils as errutils

from nnanalytics_spark import session


def test_call_site_capture_off(spark, monkeypatch):
    # is_debugging_enabled caches its first answer process-wide; clear it
    # so the answer is read from this session's conf
    monkeypatch.setattr(errutils, "_enable_debugging_cache", None)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert errutils.is_debugging_enabled() is False


def test_default_driver_mem_is_40pct_of_host_capped_at_12g(monkeypatch):
    gib = 2**30
    for phys_gib, want in [(15.5, "6g"), (16, "6g"), (64, "12g"), (31, "12g"), (2, "1g"), (1, "1g")]:
        sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(phys_gib * gib) // 4096}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
        assert session._default_driver_mem() == want, phys_gib
