"""Shared plumbing for the benchmark: checkout paths, the pinned
environment, summary statistics and the result line.

Everything the benchmark writes lands under ``<checkout>/.perfbench``
(inputs cache, Spark scratch, server logs, result files), so a run reads
and writes nothing outside the checkout it is started from.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
RESULTS = os.path.join(WORK, "results")

#: fixed clock for every time-relative request and for the sweep, so
#: each oracle answer stays fixed (the fixture's own anchor)
NOW_MS = 1_755_000_000_000


class CorrectnessError(Exception):
    """An answer of the program differs from its oracle."""


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "nnanalytics_spark", "__init__.py"))


def pin_environment() -> dict:
    """Pin the settings every process of a run inherits and return them.

    The settings are constants of the benchmark: values set in the
    caller's shell are overridden, and any other ``SPARK_GRAFT_*`` knob
    of the package is removed so its default applies.

    - ``SPARK_GRAFT_CPUS``: every core this process may run on
      (``local[N]``).
    - ``SPARK_GRAFT_DRIVER_MEM``: a 2g heap. The package default (12g
      with ``-Xms`` and AlwaysPreTouch) commits most of a small host at
      session start; the benchmark's inputs need far less.
    - ``PYTHONPATH``: the checkout, so Python workers (mapInPandas
      decode, pandas UDFs) import the package too.
    - ``SPARK_LOCAL_DIRS`` / ``TMPDIR`` / ``java.io.tmpdir``: scratch
      inside the checkout.
    """
    scratch = os.path.join(WORK, "tmp")
    os.makedirs(scratch, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": scratch,
        "TMPDIR": scratch,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch}",
        "PYTHONHASHSEED": "0",
    }
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit. PySpark leaves the
    gateway JVM running until the interpreter exits; closing its stdin
    is the JVM's own signal to stop."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def versions() -> dict:
    out = {"python": platform.python_version(), "machine": platform.machine()}
    for mod in ("pyspark", "pandas", "pyarrow", "duckdb", "numpy"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    out["nproc"] = os.cpu_count()
    return out


def host_probe() -> dict:
    """The repository's own host-health probe (first-touch allocation
    and a fixed CPU loop), so each result records the host's state."""
    import bench  # noqa: PLC0415 — the checkout root is on sys.path

    return bench._host_probe()


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, min(len(ordered), int(-(-pct * len(ordered) // 100))))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def p90_tail(n: int) -> int:
    """Samples beyond the p90 of an n-sample run (the guide asks for at
    least ten before a p90 is read as supported)."""
    return n - int(-(-0.9 * n // 1))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(result: dict, info: dict, name: str) -> None:
    """Write the full record under .perfbench/results and print the
    result object as the last line of standard output."""
    os.makedirs(RESULTS, exist_ok=True)
    record = {"result": result, "info": info, "written": time.time()}
    with open(os.path.join(RESULTS, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for key in sorted(info):
        print(f"# {key}: {json.dumps(info[key], default=str)}")
    sys.stdout.flush()
    print(json.dumps(result))
    sys.stdout.flush()
