"""Per-stage profile of one or more bench queries (guide §1: measure
first). Runs each named query at $SPARK_GRAFT_SF_DIR (default sf0.1)
with the Spark event log enabled, then reports per-job/per-stage wall
time, task counts, and shuffle bytes — the "where does the time go"
answer the UI would give, without the UI.

    python tools/profile_query.py name1 [name2 ...]

Each query runs once as warmup at sf0.001 (JIT/codegen), then once
measured at the target sf. Wall time per query is printed alongside the
stage table; stages < 50 ms are folded into an "(other)" row.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import _native_twins, _release_cached
from nnanalytics_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = "/tmp/nna_eventlog"
    os.makedirs(log_dir, exist_ok=True)
    spark = get_spark(
        "profile",
        **{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    queries = {**entry_mod.queries(), **_native_twins()}
    sc = spark.sparkContext

    for name in names:
        try:
            queries[name](spark, "/root/testdata/sf0.001").collect()
        except Exception:
            pass
        _release_cached(spark)

    marks = {}
    for name in names:
        sc.setJobDescription(f"PROFILE:{name}")
        w0 = time.time() * 1000
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).collect()
        marks[name] = (t0, time.perf_counter(), w0, time.time() * 1000)
        _release_cached(spark)
    sc.setJobDescription(None)
    app_id = sc.applicationId
    spark.stop()

    # parse the event log (Spark 4 rolling layout: a dir of events_* files)
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        parts = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.startswith("events_")
        )
    else:
        parts = [path]
    lines = []
    for p in parts:
        if p.endswith(".zstd"):
            import zstandard

            with open(p, "rb") as fh:
                raw = zstandard.ZstdDecompressor().stream_reader(fh).read()
            lines.extend(raw.decode().splitlines())
        else:
            with open(p) as fh:
                lines.extend(fh)
    jobs = {}  # job_id -> description
    stages = {}  # stage_id -> dict
    job_of_stage = {}
    if True:
        for line in lines:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get("spark.job.description", "")
                jobs[ev["Job ID"]] = desc
                for sid in ev.get("Stage IDs", []):
                    job_of_stage[sid] = ev["Job ID"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time", 0)
                dur = (si.get("Completion Time", 0) - sub) / 1000.0
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:80],
                    "dur": dur,
                    "sub": sub,
                    "tasks": si.get("Number of Tasks", 0),
                    "job": job_of_stage.get(sid),
                }

    for name in names:
        t0, t1, w0, w1 = marks[name]
        print(f"\n=== {name}: wall {t1 - t0:.2f}s ===")
        mine = [
            s
            for s in stages.values()
            if jobs.get(s["job"], "") == f"PROFILE:{name}"
            or (
                not str(jobs.get(s["job"], "")).startswith("PROFILE:")
                and w0 <= s["sub"] <= w1
            )
        ]
        mine.sort(key=lambda s: -s["dur"])
        njobs = len({s["job"] for s in mine})
        shown = sum(s["dur"] for s in mine)
        print(f"  jobs: {njobs}  stages: {len(mine)}  stage-time sum: {shown:.2f}s")
        other = 0.0
        for s in mine:
            if s["dur"] >= 0.05:
                print(f"  {s['dur']:7.2f}s  tasks={s['tasks']:<4} {s['name']}")
            else:
                other += s["dur"]
        if other:
            print(f"  {other:7.2f}s  (stages under 50ms)")


if __name__ == "__main__":
    main()
