"""The logical query tuple — the reference's only IR.

The reference compiles every REST/SQL request into the flat tuple
(set, [filter:op:value...], type, sum | find, having, top/bottom, sort,
parentDirDepth, timeRange, transforms, limit) — see SURVEY §3.3 and
analytics/web/NamenodeAnalyticsMethods.java. ``Query`` is that tuple as a
dataclass; ``INodeEngine.run(query)`` compiles it to a DataFrame plan,
picking the shape from the tuple alone (/divide's two tuples go to
``INodeEngine.divide``). The URL, SQL-dialect and cached-query front ends
all build a ``Query`` and call ``run``.

``now_ms`` pins the clock once per query so relative-time filters and time
histograms are deterministic (the reference reads the wall clock at query
start; an injectable now is required for oracle-matched tests, SURVEY §7.4).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class Query:
    set: str = "files"
    filters: list[tuple[str, str, str]] = field(default_factory=list)
    type: str | None = None  # histogram grouping key
    type2: str | None = None  # histogram2 second key
    sums: list[str] = field(default_factory=list)
    finds: list[str] = field(default_factory=list)  # "min:accessTime" style
    having: str | None = None  # "gte:100" or "0:gte:100;1:lt:5"
    top: int | None = None
    bottom: int | None = None
    sort: str | None = None  # 'asc' | 'desc' (by value)
    limit: int | None = None
    parent_dir_depth: int = 3
    time_range: str = "weekly"
    # transforms: §2.6 what-if rewrite, POSITION-ALIGNED — one
    # (conditions, field, output) entry per URL triple, so
    # `user:eq:a → replica 2; user:eq:b → replica 3` keeps each condition
    # paired with ITS output (an AND-merge of the conditions would be
    # unsatisfiable).
    transforms: list[tuple[list[tuple[str, str, str]], str, int]] = field(
        default_factory=list
    )
    now_ms: int | None = None

    def __post_init__(self) -> None:
        if self.now_ms is None:
            self.now_ms = int(time.time() * 1000)


def parse_filter_triplets(spec: str) -> list[tuple[str, str, str]]:
    """``field:op:value,...`` triplet form used by the suggestions engine."""
    if not spec:
        return []
    out = []
    for part in spec.split(","):
        field_name, op, value = part.split(":", 2)
        out.append((field_name, op, value))
    return out
