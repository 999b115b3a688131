"""URL contract — the reference's REST query strings compiled to Query.

The reference's public surface is query strings like

    /histogram?set=files&filters=fileSize:gt:0,user:eq:hdfs&type=user
        &sum=diskspaceConsumed&top=10&sortDescending=true

This module parses that exact grammar into the engine's ``Query`` IR,
once per request, and hands it to ``INodeEngine.run`` (/divide's pair to
``INodeEngine.divide``), mirroring the reference's handler
parameter-by-parameter:

- ``filters`` is a comma list of ``field:op:value`` triplets; the field
  half and the op:value half are split exactly like ``Helper.parseFilters``
  / ``Helper.parseFilterOps`` (analytics/Helper.java:235-280).
- histogram parameter names + defaults (``sum`` -> "count", ``timeRange``
  -> "weekly", null top/bottom/sort) follow
  NamenodeAnalyticsMethods.java:1540-1579; ``type=a,b`` on /histogram2
  splits into the two grouping levels (histogram2 handler,
  NamenodeAnalyticsMethods.java:1746-1762). /filter takes no ``type``
  and no default sum: without ``sum`` or ``find`` it dumps paths.
- ``transformConditions`` / ``transformFields`` / ``transformOutputs``
  triples follow Transforms.getAttributeTransforms
  (analytics/Transforms.java:58-92): conditions split on ';', fields and
  outputs on ',', position-aligned.
- /divide takes the two parameter sets ``filters1``/``sum1`` and
  ``filters2``/``sum2`` (NamenodeAnalyticsMethods.java:1304-1345).

Email / lock / output-format parameters are accepted here and ignored by
the QUERY builder; the email leg is consumed by the web layer
(web/server.py:_maybe_email → inode/mail.py, the MailOutput analog) and
locks don't exist — Spark queries don't serialize.
"""

from __future__ import annotations

from urllib.parse import parse_qs, urlsplit

from pyspark.sql import DataFrame

from nnanalytics_spark.core.ir import Query, parse_filter_triplets

ENDPOINTS = ("filter", "histogram", "histogram2", "histogram3", "divide", "dump")

#: the grouping keys each histogram endpoint reads from ``type=a[,b]``
_LEVELS = {"histogram": 1, "histogram2": 2, "histogram3": 1}

# parameters the QUERY grammar tolerates but does not consume (the email
# sink reads emailTo/emailConditions/... in the web layer; lock semantics
# and rendering are handled elsewhere;
# `proxy` is consumed by the security layer before query execution —
# SecurityContext.java:152-157 — so the grammar must tolerate it)
_IGNORED = {
    "emailTo", "emailCC", "emailFrom", "emailHost", "emailConditions",
    "useLock", "histogramOutput", "rawTimestamps", "useQueryLock", "proxy",
}

_KNOWN = _IGNORED | {
    "set", "filters", "type", "sum", "find", "histogramConditions",
    "top", "bottom", "sortAscending", "sortDescending", "parentDirDepth",
    "timeRange", "transformConditions", "transformFields",
    "transformOutputs", "limit", "path",
    "filters1", "filters2", "sum1", "sum2", "set1", "set2",
}


def param(params: dict[str, list[str]], name: str) -> str | None:
    """The last value given for ``name``, or None."""
    vals = params.get(name)
    return vals[-1] if vals else None


def _build_query(
    params: dict[str, list[str]], now_ms: int | None, endpoint: str = "", *, suffix: str = ""
) -> Query:
    """One parameter set -> Query (suffix '1'/'2' for the /divide pairs).
    ``endpoint`` shapes ``type`` and the default sum; "" is the cached
    and operation queries' grammar, which groups on up to two keys."""
    g = lambda n: param(params, n + suffix) if suffix else param(params, n)  # noqa: E731
    q = Query(now_ms=now_ms)
    if g("set"):
        q.set = g("set")
    filters = g("filters")
    if filters:
        q.filters = parse_filter_triplets(filters)
    type_str = param(params, "type")
    if type_str and endpoint != "filter":  # /filter ignores type
        keys = type_str.split(",")[: _LEVELS.get(endpoint, 2)]
        q.type, q.type2 = keys[0], (keys[1] if len(keys) > 1 else None)
    if endpoint in _LEVELS and (q.type2 if endpoint == "histogram2" else q.type) is None:
        raise ValueError(f"/{endpoint} requires {_LEVELS[endpoint]} type key(s)")
    sum_str = g("sum")
    find = param(params, "find")
    if find:
        q.finds = find.split(",")
    # sum defaults to "count" (NamenodeAnalyticsMethods.java:1563) except
    # when a find is the requested aggregate — the invoker dispatches on
    # find and the reference never adds the implicit count next to it —
    # and on /filter, where neither means a path dump.
    if sum_str:
        q.sums = sum_str.split(",")
    elif not find and endpoint != "filter":
        q.sums = ["count"]
    having = param(params, "histogramConditions")
    if having:
        q.having = having
    top = param(params, "top")
    if top is not None:
        q.top = int(top)
    bottom = param(params, "bottom")
    if bottom is not None:
        q.bottom = int(bottom)
    if q.top and q.bottom:
        raise ValueError("Please choose only one type of slice.")
    asc = param(params, "sortAscending")
    desc = param(params, "sortDescending")
    if asc is not None and desc is not None:
        raise ValueError("Please choose one type of sort.")
    if asc is not None and asc.lower() == "true":
        q.sort = "asc"
    elif desc is not None and desc.lower() == "true":
        q.sort = "desc"
    depth = param(params, "parentDirDepth")
    if depth is not None:
        q.parent_dir_depth = int(depth)
    time_range = param(params, "timeRange")
    if time_range:
        q.time_range = time_range
    limit = param(params, "limit")
    if limit is not None:
        q.limit = int(limit)
    t_cond = param(params, "transformConditions")
    t_fields = param(params, "transformFields")
    t_outputs = param(params, "transformOutputs")
    if t_cond is not None and t_fields is not None and t_outputs is not None:
        conds = t_cond.split(";")
        fields = t_fields.split(",")
        outputs = t_outputs.split(",")
        if not (len(conds) == len(fields) == len(outputs)):
            raise ValueError("transform parameter lists must be position-aligned")
        for cond, fld, out in zip(conds, fields, outputs):
            q.transforms.append((parse_filter_triplets(cond), fld, int(out)))
    return q


def _checked(params: dict[str, list[str]], extra: tuple[str, ...] = ()) -> dict[str, list[str]]:
    unknown = set(params) - _KNOWN - set(extra)
    if unknown:
        raise ValueError(f"unknown query parameters: {sorted(unknown)}")
    return params


def parse_url(url: str, now_ms: int | None = None) -> tuple[str, Query | tuple[Query, Query]]:
    """``/histogram?...`` -> (endpoint, Query); /divide's is its
    (numerator, denominator) pair. Unknown parameters raise — a typo'd
    parameter silently changing the answer is the failure mode this
    layer exists to prevent."""
    parts = urlsplit(url)
    endpoint = parts.path.rstrip("/").rsplit("/", 1)[-1]
    if endpoint not in ENDPOINTS:
        raise ValueError(f"unknown endpoint {endpoint!r}; expected one of {ENDPOINTS}")
    params = _checked(parse_qs(parts.query, keep_blank_values=True))
    if endpoint == "divide":
        return endpoint, tuple(_build_query(params, now_ms, endpoint, suffix=s) for s in "12")
    return endpoint, _build_query(params, now_ms, endpoint)


def parse_params(
    params: dict[str, list[str]], now_ms: int | None = None, *, extra: tuple[str, ...] = ()
) -> Query:
    """An already-split query string -> Query, for endpoints that carry
    a query beside parameters of their own (``extra``): checked like
    ``parse_url``, with the histogram endpoints' sum default and up to
    two grouping keys."""
    return _build_query(_checked(params, extra), now_ms)


def run_url(engine, url: str, now_ms: int | None = None) -> DataFrame:
    """Parse + run one reference-shaped URL against an INodeEngine."""
    endpoint, query = parse_url(url, now_ms)
    if endpoint == "divide":
        return engine.divide(*query)
    if endpoint == "dump":
        raise ValueError("/dump returns a dict — call engine.dump_inode(path) directly")
    return engine.run(query)
