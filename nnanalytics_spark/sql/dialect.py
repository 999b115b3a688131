"""The reference's SQL dialect → logical Query translation.

Ports /root/reference .../analytics/sql/INodeSqlStatementVisitor.java and
SqlParser.java: a deliberately narrow SQL surface whose WHERE clause is
AND-only, whose GROUP BY takes the first key as the histogram type, and
whose aggregate functions map COUNT/SUM → sum, MIN/MAX/AVG → find.

Faithful quirks (TestSQL.java:42-194 is the golden contract):
- OR anywhere in WHERE → UnsupportedOperationException analog
  (INodeSqlStatementVisitor.java:110-113);
- LIKE placement of '%' decides the op: both ends → contains, leading
  → endsWith, otherwise → startsWith, none → eq (lines 150-174);
- BETWEEN lowers to gte+lte (swapped if reversed, eq if equal), with
  date/timestamp literals rendered to epoch millis (lines 118-147);
- LIMIT defaults to Integer.MAX_VALUE; first ORDER BY element's ASC/DESC
  becomes the value sort.
- `SET parentDirDepth|timeRange = v` session knobs (SqlParser.java:67-86).

Full Spark SQL over the inode table needs no code here: a temp view of
the served DataFrame (``createOrReplaceTempView``) takes any statement
``spark.sql`` accepts.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from nnanalytics_spark.core.ir import Query
from nnanalytics_spark.inode import columns as reg

_AGG_RE = re.compile(r"^(COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(\*|\w+)\s*\)$", re.IGNORECASE)
_CMP_RE = re.compile(r"^(\w+)\s*(!=|>=|<=|=|>|<)\s*(.+)$", re.DOTALL)
_CMP_OPS = {"=": "eq", "!=": "notEq", ">": "gt", ">=": "gte", "<": "lt", "<=": "lte"}


class UnsupportedSqlError(Exception):
    """OR and other out-of-dialect constructs (the reference throws
    UnsupportedOperationException)."""


@dataclass
class SqlSession:
    """Holds the SET-table knobs (SqlParser.java:67-86)."""

    parent_dir_depth: int = 3
    time_range: str = "weekly"

    def execute_set(self, statement: str) -> bool:
        m = re.match(r"^\s*SET\s+(\w+)\s*=\s*'?(\w+)'?\s*;?\s*$", statement, re.IGNORECASE)
        if not m:
            return False
        knob, value = m.group(1), m.group(2)
        if knob.lower() == "parentdirdepth":
            self.parent_dir_depth = int(value)
        elif knob.lower() == "timerange":
            if value not in ("daily", "weekly", "monthly", "yearly"):
                raise UnsupportedSqlError(f"invalid timeRange {value!r}")
            self.time_range = value
        else:
            raise UnsupportedSqlError(f"unknown SET knob {knob!r}")
        return True


def _strip_quotes(value: str) -> str:
    value = value.strip()
    if len(value) >= 2 and value[0] == value[-1] and value[0] in "'\"":
        return value[1:-1]
    return value


def _like_to_filter(field_name: str, pattern: str) -> tuple[str, str, str]:
    """LIKE '%' placement → op (INodeSqlStatementVisitor.java:150-174)."""
    first = pattern.find("%")
    last = pattern.rfind("%")
    if first == -1:
        op = "eq"
    elif first == 0 and last == len(pattern) - 1:
        op = "contains"
    elif first == 0:
        op = "endsWith"
    else:
        op = "startsWith"
    return (field_name, op, pattern.replace("%", ""))


def _date_to_millis(literal: str) -> int:
    raw = _strip_quotes(re.sub(r"^(?:DATE|TIMESTAMP)\s+", "", literal.strip(), flags=re.IGNORECASE))
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return int(datetime.strptime(raw, fmt).replace(tzinfo=timezone.utc).timestamp() * 1000)
        except ValueError:
            continue
    raise UnsupportedSqlError(f"cannot parse date/timestamp literal {literal!r}")


def _parse_conjunct(conj: str) -> list[tuple[str, str, str]]:
    conj = conj.strip()
    between = re.match(
        r"^(\w+)\s+BETWEEN\s+(.+?)\s+AND\s+(.+)$", conj, re.IGNORECASE | re.DOTALL
    )
    if between:
        field_name = between.group(1)
        t1 = _date_to_millis(between.group(2))
        t2 = _date_to_millis(between.group(3))
        if t1 > t2:
            t1, t2 = t2, t1
        if t1 == t2:
            return [(field_name, "eq", str(t1))]
        return [(field_name, "gte", str(t1)), (field_name, "lte", str(t2))]
    like = re.match(r"^(\w+)\s+LIKE\s+(.+)$", conj, re.IGNORECASE | re.DOTALL)
    if like:
        return [_like_to_filter(like.group(1), _strip_quotes(like.group(2)))]
    cmp_m = _CMP_RE.match(conj)
    if cmp_m:
        field_name, op, value = cmp_m.group(1), cmp_m.group(2), _strip_quotes(cmp_m.group(3))
        return [(field_name, _CMP_OPS[op], value)]
    raise UnsupportedSqlError(f"cannot parse predicate {conj!r}")


def _split_where(where: str) -> list[str]:
    """Split on top-level AND; OR is out of dialect. BETWEEN's inner AND is
    protected by masking the BETWEEN…AND span first."""
    if re.search(r"\bOR\b", where, re.IGNORECASE):
        raise UnsupportedSqlError("OR is not supported (AND-only dialect)")
    sentinel = ""  # private-use char cannot appear in user SQL
    masked = re.sub(
        r"(\bBETWEEN\b.+?)\bAND\b", "\\1" + sentinel, where, flags=re.IGNORECASE | re.DOTALL
    )
    return [p.replace(sentinel, "AND") for p in re.split(r"\bAND\b", masked, flags=re.IGNORECASE)]


@dataclass
class ParsedSql:
    query: Query


def parse_select(statement: str, session: SqlSession | None = None) -> ParsedSql:
    session = session or SqlSession()
    sql = statement.strip().rstrip(";").strip()
    m = re.match(
        r"^SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<table>\w+)"
        r"(?:\s+WHERE\s+(?P<where>.+?))?"
        r"(?:\s+GROUP\s+BY\s+(?P<group>[\w,\s]+?))?"
        r"(?:\s+ORDER\s+BY\s+(?P<order>.+?))?"
        r"(?:\s+LIMIT\s+(?P<limit>\d+))?$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise UnsupportedSqlError(f"cannot parse statement: {statement!r}")

    filters: list[tuple[str, str, str]] = []
    if m.group("where"):
        for conj in _split_where(m.group("where")):
            filters.extend(_parse_conjunct(conj))

    group_key = None
    if m.group("group"):
        group_key = m.group("group").split(",")[0].strip()  # first key only

    items = [i.strip() for i in m.group("items").split(",")]
    # the dialect carries exactly one aggregate (the reference's visitor
    # does too) — silently dropping extra select items would return fewer
    # columns than requested with a 200, violating this module's
    # out-of-dialect-constructs-raise contract
    max_items = 2 if group_key else 1
    if len(items) > max_items:
        raise UnsupportedSqlError(
            "the NNA dialect supports one aggregate per query "
            f"(got {len(items)} select items); use /histogram3 or native "
            "Spark SQL views for multi-aggregate queries"
        )
    agg_item = items[1] if group_key and len(items) > 1 else items[0]
    sums: list[str] = []
    finds: list[str] = []
    agg = _AGG_RE.match(agg_item)
    if agg:
        func, arg = agg.group(1).upper(), agg.group(2)
        if func == "COUNT":
            sums = ["count"]
        elif func == "SUM":
            sums = [arg]
        else:
            finds = [f"{func.lower()}:{arg}"]

    sort = None
    if m.group("order"):
        order = m.group("order").strip()
        if re.search(r"\bDESC\b", order, re.IGNORECASE):
            sort = "desc"
        elif re.search(r"\bASC\b", order, re.IGNORECASE):
            sort = "asc"

    query = Query(
        set=m.group("table"),
        filters=filters,
        type=group_key,
        sums=sums,
        finds=finds,
        sort=sort,
        limit=int(m.group("limit")) if m.group("limit") else None,
        parent_dir_depth=session.parent_dir_depth,
        time_range=session.time_range,
    )
    return ParsedSql(query=query)


def show_tables() -> list[str]:
    return list(reg.SETS)


def describe(table: str) -> list[dict[str, str]]:
    """DESCRIBE files|dirs|all from the validity matrices
    (SqlParser.java:48-107)."""
    filter_ok, _, _, _ = reg._BY_SET[table]
    return [
        {"column": name, "type": reg.COLUMNS[name].dtype}
        for name in sorted(filter_ok)
        if name in reg.COLUMNS
    ]


def execute(statement: str, engine, session: SqlSession | None = None) -> DataFrame | list:
    """Run one dialect statement against an INodeEngine."""
    session = session or SqlSession()
    if re.match(r"^\s*SHOW\s+TABLES\s*;?\s*$", statement, re.IGNORECASE):
        return show_tables()
    desc = re.match(r"^\s*DESCRIBE\s+(\w+)\s*;?\s*$", statement, re.IGNORECASE)
    if desc:
        return describe(desc.group(1))
    if session.execute_set(statement):
        return []
    return engine.run(parse_select(statement, session).query)


def _split_statements(text: str) -> list[str]:
    """Split a multi-statement string on top-level ``;`` (quote-aware —
    a semicolon inside a string literal does not split)."""
    parts, buf, quote = [], [], None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch == ";":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def execute_statements(text: str, engine) -> DataFrame | list:
    """Run a (possibly multi-statement) request-scoped string.

    The reference creates a fresh SqlParser per /sql request
    (WebServerMain.java's CCJSqlParserUtil.parseStatements path), so a
    ``SET parentDirDepth=2; SELECT ...`` pair applies the SET to the
    SELECT in the SAME request only — it never leaks into other
    clients' requests. Returns the last non-SET statement's result
    (or ``[]`` when the request is SETs only)."""
    session = SqlSession()
    result: DataFrame | list = []
    for statement in _split_statements(text):
        result = execute(statement, engine, session)
    return result

