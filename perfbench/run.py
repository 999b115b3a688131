"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload rest_point --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
(and cached) before anything is timed; the program then runs for
``--seconds``; every answer is checked against its oracle; the last
line of standard output is the result object. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run
(see perfbench/README.md). A wrong answer exits 1 after the result line;
a missing package (2) or a wrong first answer during set-up (3) exits
without one.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import inputs  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_rps": "1/s",
    "freshness_p50_ms": "ms",
    "batch_s": "s",
}

#: workload → scale and client model (mirrored in BENCHMARK.json)
WORKLOADS = {
    # 101,111 inodes (depth 3 x 10 dirs x 100 files), 4 closed-loop clients
    "rest_point": {"levels": 3, "dirs": 10, "files": 100, "clients": 4},
    # 6,051-inode binary fsimage (50 dirs x 120 files), 2 closed-loop
    # clients: each request re-decodes the image (about 0.9 s), so one
    # client sends only about one request a second
    "rest_fsimage": {"dirs": 50, "files": 120, "clients": 2},
    # 101,111-inode base, one segment (1,000 adds + 100 deletes) every 2 s,
    # one closed-loop reader. A fold takes about 1 s on a 4-core host
    # whatever the base size; a cadence near it keeps the tailer behind,
    # and whether a run then folds in 7 or 8 batches swings freshness by a
    # quarter. A whole number of trigger intervals keeps every landing at
    # the same phase of the trigger (see ingest.py).
    "ingest_tail": {"levels": 3, "dirs": 10, "files": 100, "cadence_s": 2.0,
                    "adds": 1000, "deletes": 100},
    # TESTDATA-shaped tables at sf0.001, one client running the rows of
    # pipeline.ROWS pass after pass
    "pipeline_batch": {"sf": 0.001},
}
#: ``--tiny``: the self-test's sizes (same code paths, seconds per run)
TINY = {
    "rest_point": {"levels": 2, "dirs": 5, "files": 20, "clients": 2},
    "rest_fsimage": {"dirs": 4, "files": 25, "clients": 1},
    "ingest_tail": {"levels": 2, "dirs": 5, "files": 20, "cadence_s": 0.5, "adds": 50, "deletes": 5},
    "pipeline_batch": {"sf": 0.0002},
}


def run_workload(name: str, seed: int, seconds: float, trace: bool, tiny: bool = False) -> dict:
    cfg = (TINY if tiny else WORKLOADS)[name]
    tag = f"{name}-s{seed}-t{int(trace)}"
    if name == "rest_point":
        import duckdb

        import serving

        source, sizes = inputs.namespace(cfg["levels"], cfg["dirs"], cfg["files"])
        con = duckdb.connect()
        con.execute(f"CREATE VIEW ns AS SELECT * FROM read_parquet('{source}/*/*.parquet', hive_partitioning=1)")
        variants = serving.point_requests(con, seed)
        out = serving.run(source, "parquet", variants, con, cfg["clients"], seconds,
                          trace, sweep=True, tag=tag)
    elif name == "rest_fsimage":
        import duckdb

        import serving
        from nnanalytics_spark.sources import oivgen

        source, sizes = inputs.fsimage(cfg["dirs"], cfg["files"])
        n_dirs, per_dir = sizes["n_dirs"], sizes["files_per_dir"]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW fs AS {oivgen.oracle_sql(n_dirs, per_dir)}")
        variants = serving.fsimage_requests(con, seed, n_dirs, per_dir)
        out = serving.run(source, "fsimage", variants, con, cfg["clients"], seconds,
                          trace, sweep=False, tag=tag)
    elif name == "ingest_tail":
        import ingest

        out, sizes = ingest.run(seed, seconds, trace, cfg)
    else:
        import pipeline

        out, sizes = pipeline.run(seed, seconds, trace, cfg)
    out["info"]["inputs"] = sizes
    return out


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = parser.parse_args(argv)

    if not common.package_present():
        print(f"perfbench: no nnanalytics_spark package under {common.ROOT}", file=sys.stderr)
        return 2
    env = common.pin_environment()
    probe_before = common.host_probe()
    started = time.time()
    try:
        out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    except common.CorrectnessError as exc:
        print(f"perfbench: correctness check failed: {exc}", file=sys.stderr)
        return 3
    probe_after = common.host_probe()

    failed = out["failed"]
    if args.trace:
        import layers

        metrics = layers.report(out["layers"])
    else:
        metrics = {k: common.metric(out["e2e"][k], unit) for k, unit in E2E_UNITS.items()}
    result = {
        "correct": failed == 0,
        "attempted": int(out["attempted"]),
        "failed": int(failed),
        "metrics": metrics,
    }
    info = {
        **out["info"],
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "versions": common.versions(),
        "host_probe": {"before": probe_before, "after": probe_after},
        "run_wall_s": time.time() - started,
    }
    size = "-tiny" if args.tiny else ""
    common.emit(result, info, f"{args.workload}-s{args.seed}-t{args.trace}{size}.json")
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
