"""Histogram output rendering — CSV / JSON / Chart.js shapes.

Ports queries/Histograms.java:52-183 (toChartJsJson, toJson, toCsv,
twoLeveltoCsv, which is to_csv over the histogram2 frame). These run on
the already-aggregated (tiny) result, driver side; the key-order
contract (canonical bin order for time histograms, zero-filled —
Histograms.orderByKeyOrder) is preserved upstream by
postops.order_by_key_order, so rendering only formats.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame


def _rows(histogram: DataFrame) -> list[tuple]:
    return [tuple(r) for r in histogram.collect()]


def to_json(histogram: DataFrame) -> str:
    """{bin: value} map in result order (Histograms.toJson)."""
    rows = _rows(histogram)
    if rows and len(rows[0]) == 2:
        return json.dumps(dict(rows))
    return json.dumps({r[0]: list(r[1:]) for r in rows})


def to_csv(histogram: DataFrame, header: bool = False) -> str:
    """key,value lines (Histograms.toCsv)."""
    lines = []
    if header:
        lines.append(",".join(histogram.columns))
    lines.extend(",".join(str(v) for v in r) for r in _rows(histogram))
    return "\n".join(lines) + "\n"


def two_level_to_json(histogram2: DataFrame) -> str:
    """Nested {key1: {key2: value}} map — the reference's /histogram2
    response shape."""
    nested: dict[str, dict] = {}
    for k1, k2, *vals in _rows(histogram2):
        nested.setdefault(k1, {})[k2] = vals[0] if len(vals) == 1 else list(vals)
    return json.dumps(nested)


def to_chart_js_json(histogram: DataFrame, title: str = "") -> str:
    """Chart.js dataset payload (Histograms.toChartJsJson shape):
    labels + one data series per value column."""
    rows = _rows(histogram)
    labels = [r[0] for r in rows]
    value_cols = histogram.columns[1:]
    datasets = [
        {"label": col, "data": [r[i + 1] for r in rows]}
        for i, col in enumerate(value_cols)
    ]
    return json.dumps({"type": "bar", "title": title, "labels": labels, "datasets": datasets})
