"""The per-layer metrics of a traced run and how each is computed from
spans. Every traced run reports every name below; a layer that does no
work in a workload reports 0.
"""

from __future__ import annotations

from common import median, metric
from pipeline import ROW_METRICS, ROWS
from tracing import by_name, self_times

REST_CLASSES = (
    "filter_sum", "filter_find", "histogram", "histogram_parentdir", "histogram2",
    "histogram3", "divide", "sql", "dump", "content_summary", "suggestion", "discovery",
)

#: name → unit, in report order
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "inode.suggestions.sweep_s": "s",
    "web.http_ms": "ms",
    "web.handle_self_ms": "ms",
    "core.url.parse_ms": "ms",
    "sql.dialect.parse_ms": "ms",
    "inode.engine.build_ms": "ms",
    "inode.render_self_ms": "ms",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.collect_ms": "ms",
    "spark.jobs_per_request": "count",
    "spark.stages_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.scan_bytes_per_request": "bytes",
    "spark.shuffle_bytes_per_request": "bytes",
    "spark.scan_rows_per_result_row": "ratio",
    "spark.python_rows_per_request": "count",
    "spark.storage_mb": "MB",
    **{f"rest.{c}.p50_ms": "ms" for c in REST_CLASSES},
    "streaming.fold_ms": "ms",
    "streaming.trigger_wait_ms": "ms",
    "streaming.reads_per_input_row": "ratio",
    "streaming.backlog_segments": "count",
    "ingest.writer_late_ms": "ms",
    **{f"pipeline.{row}.{key}": unit for row in ROWS for key, unit in ROW_METRICS.items()},
    "trace.overhead_pct": "%",
}


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def _span_s(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in by_name(spans, name))


def request_layers(spans: list[dict], jobs: dict, client_ms: dict[str, float]) -> dict[str, float]:
    """Per-request layer metrics over the traced requests.

    ``client_ms``: request id → client-observed latency, for the
    requests sent while tracing was on; ``jobs``: request id → the
    jobs / stages / tasks of its job group."""
    own = self_times(spans)
    reqs = set(client_ms)
    per_req: dict[str, dict[str, float]] = {r: {} for r in reqs}

    def add(req, key, value):
        if req in per_req:
            per_req[req][key] = per_req[req].get(key, 0.0) + value

    collect_stats = []
    for s in spans:
        req, dur = s["req"], (s["end"] - s["start"]) * 1000
        if s["name"] == "web.handle":
            add(req, "handle", dur)
            add(req, "handle_self", own[s["id"]] * 1000)
        elif s["name"] == "inode.engine.build":
            add(req, "build", own[s["id"]] * 1000)
        elif s["name"] == "inode.render":
            add(req, "render", own[s["id"]] * 1000)
        elif s["name"] in ("core.url.parse", "sql.dialect.parse"):
            add(req, s["name"], dur)
        elif s["name"] == "spark.collect" and req in per_req:
            add(req, "collect", dur)
            attrs = s["attrs"]
            for phase in ("analysis", "optimization", "planning"):
                add(req, phase, attrs.get(f"{phase}_ms", 0.0))
            collect_stats.append(attrs)
            for key in ("scan_bytes", "shuffle_bytes", "python_rows"):
                add(req, key, attrs.get(key, 0))

    def med(key: str) -> float:
        return median([v[key] for v in per_req.values() if key in v])

    def per_request(key: str) -> float:
        return _mean([v.get(key, 0.0) for v in per_req.values()])

    result_rows = sum(a.get("result_rows", 0) for a in collect_stats)
    scan_rows = sum(a.get("scan_rows", 0) for a in collect_stats)
    http = [client_ms[r] - v["handle"] for r, v in per_req.items() if "handle" in v]
    job_rows = [jobs[r] for r in reqs if r in jobs]
    return {
        "web.http_ms": median(http),
        "web.handle_self_ms": med("handle_self"),
        "core.url.parse_ms": med("core.url.parse"),
        "sql.dialect.parse_ms": med("sql.dialect.parse"),
        "inode.engine.build_ms": med("build"),
        "inode.render_self_ms": med("render"),
        "spark.analysis_ms": med("analysis"),
        "spark.optimization_ms": med("optimization"),
        "spark.planning_ms": med("planning"),
        "spark.collect_ms": med("collect"),
        "spark.jobs_per_request": _mean([j["jobs"] for j in job_rows]),
        "spark.stages_per_request": _mean([j["stages"] for j in job_rows]),
        "spark.tasks_per_request": _mean([j["tasks"] for j in job_rows]),
        "spark.scan_bytes_per_request": per_request("scan_bytes"),
        "spark.shuffle_bytes_per_request": per_request("shuffle_bytes"),
        "spark.scan_rows_per_result_row": scan_rows / result_rows if result_rows else 0.0,
        "spark.python_rows_per_request": per_request("python_rows"),
    }


def overhead_pct(samples: list[tuple[str, float, bool]]) -> float:
    """Tracing overhead from one interleaved run: for each operation
    class, the median latency of its traced samples over that of its
    untraced ones; the median of those ratios, minus one, in percent.
    ``samples``: (class, latency, traced)."""
    ratios = []
    for cls in sorted({c for c, _, _ in samples}):
        on = [v for c, v, t in samples if c == cls and t]
        off = [v for c, v, t in samples if c == cls and not t]
        if on and off:
            ratios.append(median(on) / median(off))
    return (median(ratios) - 1) * 100 if ratios else 0.0


def setup_layers(spans: list[dict]) -> dict[str, float]:
    return {
        "session.start_s": _span_s(spans, "session.start"),
        "sources.load_s": _span_s(spans, "sources.load"),
        "inode.suggestions.sweep_s": _span_s(spans, "inode.suggestions.sweep"),
    }


def report(values: dict[str, float]) -> dict[str, dict]:
    """Every per-layer metric, 0 for layers this workload leaves idle."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {name: metric(values.get(name, 0.0), unit) for name, unit in PER_LAYER.items()}
