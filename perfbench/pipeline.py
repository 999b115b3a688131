"""pipeline_batch: registry rows of ``__spark_entry__``, in-process.

One client runs a fixed list of ``__spark_entry__.queries()`` rows over
seeded TESTDATA-shaped tables (``inputs.tables``), one row after the
other, pass after pass, until the window has passed (a traced run makes
at least two passes). Every answer is kept and, after the window,
checked against the row's DuckDB oracle with
``tools/check_oracle.compare_one``, the repository's own strict gate.
"""

from __future__ import annotations

import time

from common import CorrectnessError, median, percentile, stop_spark

#: the rows of one pass: the simhash transfer floor and the n-gram
#: prefix filter, two of ROADMAP's carried pipeline items. simhash_blocks
#: comes first: it needs two runs to warm, and the set-up answer is one.
ROWS = ("simhash_blocks", "ngram_jaccard_pairs")
#: per-row layer metrics of a traced run, name → unit
ROW_METRICS = {"wall_s": "s", "build_s": "s", "plan_s": "s", "exec_s": "s",
               "transfer_s": "s", "jobs": "count"}


class _Answer:
    """A collected answer, in the shape ``compare_one`` reads from a
    DataFrame (``columns`` and ``collect()``), so the check reuses the
    rows the timed run returned instead of running the row again."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns, self._rows = columns, rows

    def collect(self) -> list[tuple]:
        return self._rows


def run(seed: int, seconds: float, trace: bool, cfg: dict) -> tuple[dict, dict]:
    import duckdb

    import inputs
    from tools.check_oracle import attach_views, compare_one

    sf_dir, sizes = inputs.tables(seed, cfg["sf"])
    con = duckdb.connect()
    attach_views(con, sf_dir)

    tracer = None
    if trace:
        from tracing import Tracer

        from nnanalytics_spark import session

        tracer = Tracer()
        tracer.enabled = True
        tracer.wrap(session, "get_spark", "session.start")

    # ---- set-up: session → first correct answer
    t0 = time.perf_counter()
    import __spark_entry__ as entry

    from nnanalytics_spark import session

    spark = session.get_spark("nnanalytics")
    session_ready = time.perf_counter()
    queries, oracles = entry.queries(), entry.oracle_sql()
    sc = spark.sparkContext

    def check(name: str, columns: list[str], rows: list[tuple]) -> tuple[str, str]:
        return compare_one(spark, con, name, lambda *_: _Answer(columns, rows), oracles[name], sf_dir)

    def run_row(name: str, traced: bool, tag: str) -> dict:
        if traced:
            sc.setJobGroup(tag, "perfbench row")
        t_start = time.perf_counter()
        df = queries[name](spark, sf_dir)
        t_built = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        t_end = time.perf_counter()
        rec = {"row": name, "start": t_start, "end": t_end, "traced": traced,
               "columns": df.columns, "rows": rows}
        if traced:
            from tracing import job_stats, spark_stats

            stats = spark_stats(df, len(rows))
            jobs = job_stats(sc, tag)["jobs"]
            sc.setLocalProperty("spark.jobGroup.id", None)
            t_noop = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()  # execution without the transfer
            exec_s = time.perf_counter() - t_noop
            rec["layers"] = {
                "wall_s": t_end - t_start,
                "build_s": t_built - t_start,
                "plan_s": sum(stats.get(f"{p}_ms", 0.0) for p in ("analysis", "optimization", "planning")) / 1000,
                "exec_s": exec_s,
                "transfer_s": max(0.0, t_end - t_built - exec_s),
                "jobs": jobs,
            }
        return rec

    first = run_row(ROWS[0], False, "setup")
    t_answer = time.perf_counter()
    status, detail = check(ROWS[0], first["columns"], first["rows"])
    if status != "ok":
        stop_spark(spark)
        raise CorrectnessError(f"first answer of {ROWS[0]} wrong: {detail}")
    setup_s = t_answer - t0
    if tracer:
        tracer.enabled = False
    # warm-up, untimed: one pass. A row's first run in a session costs two
    # to five times a later one (Python workers, code generation), and on
    # a loaded host simhash_blocks's second run is still 1.5 times its
    # third; a window of such runs would measure start-up, not the rows.
    warm = [run_row(name, False, "warmup") for name in ROWS]

    # ---- measured window: whole passes until the window has passed
    records: list[dict] = []
    pass_s: list[float] = []
    begin = time.perf_counter()
    deadline = begin + seconds
    p = 0
    while p < (2 if trace else 1) or time.perf_counter() < deadline:
        t_pass = time.perf_counter()
        for i, name in enumerate(ROWS):
            # a traced run traces every other row, flipping each pass
            records.append(run_row(name, trace and (i + p) % 2 == 1, f"p{p}-{name}"))
        pass_s.append(time.perf_counter() - t_pass)
        p += 1
    window = time.perf_counter() - begin
    storage = None
    if tracer:
        from tracing import storage_mb

        storage = storage_mb(sc)

    # ---- correctness, outside the window: each distinct answer once,
    # the warm-up's too
    failed = 0
    verdicts: dict[tuple, str] = {}
    for rec in warm + records:
        key = (rec["row"], tuple(rec["columns"]), tuple(rec["rows"]))
        if key not in verdicts:
            verdicts[key] = check(rec["row"], rec["columns"], rec["rows"])[0]
        failed += verdicts[key] != "ok"
    stop_spark(spark)

    plain = [r for r in records if not r["traced"]]
    lat = [(r["end"] - r["start"]) * 1000 for r in plain]
    out = {
        "attempted": len(warm) + len(records),
        "failed": failed,
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_ms": median(lat),
            "latency_p90_ms": percentile(lat, 90),
            "throughput_rps": len(records) / window,
            "freshness_p50_ms": (t_answer - session_ready) * 1000,
            "batch_s": median(pass_s),
        },
        "info": {
            "setup_s": setup_s,
            "rows": list(ROWS),
            "passes": len(pass_s),
            "pass_s": pass_s,
            "row_ms": {name: [round((r["end"] - r["start"]) * 1000, 1) for r in records if r["row"] == name]
                       for name in ROWS},
        },
    }
    if tracer:
        out["layers"] = _layers(records, tracer, storage)
    return out, sizes


def _layers(records: list[dict], tracer, storage: float) -> dict:
    from layers import overhead_pct, setup_layers

    values = dict(setup_layers(tracer.spans))
    values["spark.storage_mb"] = storage
    for name in ROWS:
        traced = [r["layers"] for r in records if r["row"] == name and r["traced"]]
        for key in ROW_METRICS:
            values[f"pipeline.{name}.{key}"] = median([t[key] for t in traced])
    values["trace.overhead_pct"] = overhead_pct(
        [(r["row"], r["end"] - r["start"], r["traced"]) for r in records])
    return values
