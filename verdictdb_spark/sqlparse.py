"""Clause-level SQL parser for the approximate front door.

The reference parses the full VerdictDB grammar with ANTLR
(``parser/VerdictSQLParser.g4:417-449`` for the query-spec shape,
``sqlreader/ExpressionGen.java:111-345`` for arbitrary expressions in
aggregate arguments).  Spark-first re-expression: Catalyst is the
expression engine — this module only needs CLAUSE structure (which
table(s), which select items are aggregates, where/group/having/
order/limit text) and hands every expression string to ``F.expr``,
where Spark's own parser/analyzer does the real work.  Anything this
parser cannot shape is not an error: the caller falls back to exact
``spark.sql`` (the reference's pass-through contract,
``SelectQueryCoordinator.java:118-171``).

No regexes over whole statements: a character scan (``_mask``) blanks
string literals / quoted identifiers / parenthesized subexpressions so
top-level keywords (FROM, WHERE, GROUP BY, HAVING, ORDER BY, LIMIT,
JOIN, ON, AND, UNION) are located structurally.  This is what fixes the
round-2 crash where a lazy regex swallowed ``ORDER BY`` into the
GROUP BY list.  This module is the front door's only reader of SQL
text, and each concept is read in one place:

* the call locator, ``_calls``: name and span of every call to a named
  function (aggregates, the variance family, percentiles);
* the select-list reader, ``_select_items``: items, aliases,
  qualifier-free expressions and GROUP BY ordinals;
* the ORDER BY/LIMIT reader, ``order_limit``, for aggregate,
  percentile and UNION ALL statements;
* the FROM derived-table locator, ``from_subquery_spans``, for table
  references and the nested route.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field

AGG_FUNCS = ("sum", "count", "avg", "min", "max", "approx_count_distinct")

# Variance-family aggregates are not executed natively: each call is
# textually decomposed into arithmetic over sum/count partials (the
# composite-aggregate machinery), mirroring how the reference rebuilds
# expressions around decomposed partials.  The reference lists exactly
# this family as its extension surface
# (docs/docs/documentation/supported_queries.md "Future supported
# aggregate functions": var_pop/var_samp/stddev_pop/stddev_samp/
# covar_pop/covar_samp/corr).  Order matters: longer names first so the
# alternation never matches a prefix ("var_pop" before nothing else,
# but "stddev_samp" must beat "stddev").
STAT_FUNCS = (
    "var_pop",
    "var_samp",
    "variance",
    "stddev_pop",
    "stddev_samp",
    "stddev",
    "covar_pop",
    "covar_samp",
    "corr",
)
_TWO_ARG_STATS = {"covar_pop", "covar_samp", "corr"}


class Unsupported(Exception):
    """Statement shape outside the rewritable surface — callers fall
    back to exact ``spark.sql`` (never user-visible)."""


_SELECT_HEAD = re.compile(r"\s*select\b", re.IGNORECASE)


# ------------------------------------------------------------- scanning
def _mask(s: str, keep_depth0_only: bool = True) -> str:
    """Same-length string with string literals / quoted identifiers
    blanked and (optionally) every character at paren depth > 0
    blanked — so keyword regexes only ever match top-level SQL
    structure.  Parens themselves survive so balance checks still
    work."""
    out = []
    depth = 0
    in_str: str | None = None
    for ch in s:
        if in_str is not None:
            if ch == in_str:
                in_str = None
            out.append(" ")
        elif ch in ("'", '"', "`"):
            in_str = ch
            out.append(" ")
        elif ch == "(":
            depth += 1
            out.append("(")
        elif ch == ")":
            depth -= 1
            out.append(")")
        elif keep_depth0_only and depth > 0:
            out.append(" ")
        else:
            out.append(ch)
    if in_str is not None or depth != 0:
        raise Unsupported("unbalanced quotes or parentheses")
    return "".join(out)


def _matching_paren(masked: str, open_idx: int) -> int:
    """Index of the ``)`` closing ``masked[open_idx] == '('`` — parens
    survive masking at EVERY depth, so a nested subquery or function
    call cannot confuse the balance.  Returns -1 when unbalanced."""
    depth = 0
    for i in range(open_idx, len(masked)):
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


@functools.lru_cache(maxsize=None)
def _call_re(funcs: tuple[str, ...]) -> re.Pattern:
    return re.compile(rf"\b({'|'.join(funcs)})\s*\(", re.IGNORECASE)


def _calls(text: str, funcs: tuple[str, ...]) -> list[tuple[str, int, int, int]]:
    """Every call in ``text`` to one of ``funcs``, outermost first and
    non-overlapping: ``(lowercased name, name start, open paren, close
    paren)``.  Located on the literal-masked text, so call text inside
    a string is never seen and a ``)`` in a string never closes one."""
    masked = _mask(text, keep_depth0_only=False)
    out: list[tuple[str, int, int, int]] = []
    pos = 0
    for m in _call_re(funcs).finditer(masked):
        if m.start() < pos:
            continue  # nested inside the previous call
        close = _matching_paren(masked, m.end() - 1)
        if close < 0:
            raise Unsupported(f"unbalanced call to {m.group(1)}")
        out.append((m.group(1).lower(), m.start(), m.end() - 1, close))
        pos = close + 1
    return out


def _whole_call(text: str, funcs: tuple[str, ...]) -> tuple[str, str] | None:
    """``(name, argument text)`` when ``text`` is exactly one call to
    one of ``funcs`` (``sum(x)``, not ``sum(x) + 1``); else None."""
    calls = _calls(text, funcs)
    if calls:
        name, start, open_, close = calls[0]
        if not text[:start].strip() and not text[close + 1 :].strip():
            return name, text[open_ + 1 : close]
    return None


def _paren_groups(masked: str) -> list[tuple[int, int]]:
    """``(open, close)`` of each top-level paren group of masked text —
    parens survive masking at EVERY depth, so a nested subquery or
    function call cannot confuse the balance."""
    groups = []
    i = masked.find("(")
    while i >= 0:
        close = _matching_paren(masked, i)
        if close < 0:
            raise Unsupported("unbalanced parentheses")
        groups.append((i, close))
        i = masked.find("(", close + 1)
    return groups


def from_subquery_spans(text: str) -> list[tuple[int, int, str]]:
    """Top-level ``(SELECT ...)`` groups in a FROM-clause text:
    ``[(open_idx, close_idx, inner_text), ...]``.  Depth is tracked on
    the literal-masked text so a ``)`` inside a string never closes a
    group; non-SELECT paren groups (join grouping) are skipped."""
    return [
        (i, close, text[i + 1 : close].strip())
        for i, close in _paren_groups(_mask(text, keep_depth0_only=False))
        if _SELECT_HEAD.match(text[i + 1 : close])
    ]


def _split_top_level(s: str, sep_pattern: str = ",") -> list[str]:
    """Split on a top-level separator (regex) — commas by default —
    ignoring separators inside parens or strings."""
    masked = _mask(s)
    parts, last = [], 0
    for m in re.finditer(sep_pattern, masked, re.IGNORECASE):
        parts.append(s[last : m.start()].strip())
        last = m.end()
    parts.append(s[last:].strip())
    return parts


def norm_expr(t: str) -> str:
    """Whitespace/case-insensitive expression identity for matching
    HAVING/ORDER BY aggregate text against select-list aggregates."""
    return re.sub(r"\s+", "", t).lower()


# ----------------------------------------------------------- structures
@dataclass
class TableRef:
    name: str  # as written (possibly schema-qualified); "" for an opaque derived table
    alias: str  # alias if given, else the unqualified name
    subquery: str | None = None  # inner SELECT text for a derived table
    # parse_simple_inner result for a ROW-LOCAL derived table
    # ((base, items, where)); None when the inner text is opaque
    inner: tuple | None = None


@dataclass
class JoinClause:
    table: TableRef
    pairs: list[tuple[str, str]]  # equi pairs (left_text, right_text), qualifiers stripped
    how: str = "inner"  # inner | left (grammar VerdictSQLParser.g4:512-521)


@dataclass
class AggItem:
    op: str  # sum|count|avg|min|max|countdistinct
    expr: str | None  # inner expression text (None => count(*))
    alias: str
    distinct: bool = False
    hidden: bool = False  # referenced only by HAVING/ORDER BY


@dataclass
class GroupItem:
    expr: str  # expression text (qualifiers stripped)
    alias: str  # output column name


@dataclass
class OrderItem:
    expr: str  # alias of an agg item, or a group expression
    desc: bool = False


@dataclass
class WhereSubquery:
    """One extractable WHERE-subquery conjunct: ``lhs [NOT] IN
    (SELECT ...)``, ``[NOT] EXISTS (SELECT ...)``, or ``lhs COMP
    (SELECT ...)`` (scalar comparison, supported_queries.md:278-279) —
    the first two rewrite to semi/anti joins against the
    exactly-computed inner, the scalar kind executes its 1x1 inner
    exactly at plan time and the comparison becomes a constant filter
    (the reference lifts all of these into dependent plan nodes,
    QueryExecutionPlanFactory.java:242-345)."""

    kind: str  # in | not_in | exists | not_exists | scalar
    lhs: str | None  # probe expression text (None for EXISTS)
    inner: str  # inner SELECT text
    comp: str | None = None  # comparison operator for kind == "scalar"


@dataclass
class ParsedSelect:
    tables: list[TableRef]
    joins: list[JoinClause]  # joins[i] attaches tables[i+1]
    select_order: list[str]  # output column names in select-list order
    agg_items: list[AggItem] = field(default_factory=list)
    group_items: list[GroupItem] = field(default_factory=list)
    where_subqs: list[WhereSubquery] = field(default_factory=list)
    # composite aggregate select items (sum(a)/sum(b) AS ratio): residual
    # expression text with every agg call replaced by its (possibly
    # hidden) agg alias — evaluated over the estimate frame
    # (AsyncAggExecutionNode.replaceColumnWithAggMeta:565-639)
    composites: list[tuple[str, str]] = field(default_factory=list)  # (alias, expr)
    where: str | None = None
    having: str | None = None  # agg calls already rewritten to aliases
    order_by: list[OrderItem] = field(default_factory=list)
    limit: int | None = None


# ------------------------------------------------------------- clauses
_CLAUSE_RE = re.compile(
    r"\b(FROM|WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b", re.IGNORECASE
)
_CANON = {"GROUP": "GROUP BY", "ORDER": "ORDER BY"}
_CLAUSE_ORDER = ("FROM", "WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT")


def _clause_map(s: str) -> dict[str, str]:
    """Text of each top-level clause of ``s`` by keyword, which must
    come in canonical order; ``""`` keys the text before the first."""
    found = [
        (_CANON.get(m.group(1).split()[0].upper(), m.group(1).upper()), m.start(), m.end())
        for m in _CLAUSE_RE.finditer(_mask(s))
    ]
    out = {"": s[: found[0][1]] if found else s}
    seen_rank = -1
    for i, (kw, _, end) in enumerate(found):
        rank = _CLAUSE_ORDER.index(kw)
        if rank <= seen_rank:
            raise Unsupported(f"clause {kw} out of order or repeated")
        seen_rank = rank
        out[kw] = s[end : found[i + 1][1] if i + 1 < len(found) else len(s)].strip()
    return out


def _clauses(sql: str) -> dict[str, str]:
    s = sql.strip().rstrip(";").strip()
    if not re.match(r"^select\s", s, re.IGNORECASE):
        raise Unsupported("not a SELECT statement")
    out = _clause_map(s)
    out["SELECT"] = out.pop("")[len("select") :].strip()
    if "FROM" not in out:
        raise Unsupported("no FROM clause")
    return out


def reassemble(cl: dict[str, str], new_from: str) -> str:
    """Rebuild a SELECT statement from its clause map with a rewritten
    FROM — faithful because the map holds clauses in canonical order."""
    parts = ["SELECT " + cl["SELECT"], "FROM " + new_from]
    for kw in _CLAUSE_ORDER[1:]:
        if kw in cl:
            parts.append(kw + " " + cl[kw])
    return " ".join(parts)


def derived_tables(query: str) -> tuple[dict[str, str], list] | None:
    """``(clause map, [(start, end, inner SELECT)])`` of a SELECT's FROM
    derived tables, with offsets into ``clause map["FROM"]``; None when
    it has none (or its text does not scan — exact Spark SQL reports
    that)."""
    try:
        cl = _clauses(query)
        spans = from_subquery_spans(cl["FROM"])
    except Unsupported:
        return None
    return (cl, spans) if spans else None


def order_limit(
    cl: dict[str, str], outputs: list[str]
) -> tuple[list[OrderItem], int | None]:
    """The ORDER BY items and LIMIT of a clause map.  Each item's
    ASC/DESC is split off and an ordinal is resolved to its name in
    ``outputs`` (sorting by the literal int would silently no-op);
    LIMIT must be an integer literal.  Raises ``Unsupported``
    otherwise.  Callers map the remaining expressions to their own
    output names."""
    order_by: list[OrderItem] = []
    for piece in _split_top_level(cl["ORDER BY"]) if "ORDER BY" in cl else []:
        m = re.search(r"\s+(ASC|DESC)\s*$", piece, re.IGNORECASE)
        expr = (piece[: m.start()] if m else piece).strip()
        if re.fullmatch(r"\d+", expr):
            idx = int(expr) - 1
            if not 0 <= idx < len(outputs):
                raise Unsupported("ORDER BY ordinal out of range")
            expr = outputs[idx]
        order_by.append(OrderItem(expr, desc=bool(m) and m.group(1).upper() == "DESC"))
    limit = cl.get("LIMIT")
    if limit is not None and not re.fullmatch(r"\d+", limit.strip()):
        raise Unsupported(f"unparseable LIMIT {limit!r}")
    return order_by, None if limit is None else int(limit)


_ORDER_OR_LIMIT = re.compile(r"\b(ORDER\s+BY|LIMIT)\b", re.IGNORECASE)


def split_union(query: str) -> tuple[list[str], dict[str, str]] | None:
    """A chain of plain SELECT blocks joined by ``UNION ALL``:
    ``(blocks, tail)``, where ``tail`` is the clause map of the ORDER BY
    / LIMIT written after the last block (it scopes to the whole union;
    read it with :func:`order_limit`) and the last block no longer
    carries it.  None for any other statement: a plain UNION (it breaks
    left-assoc flattening), EXCEPT / INTERSECT, a parenthesized block,
    ORDER BY / LIMIT on a non-last block (a Spark parse error), or a
    tail that does not scan."""
    masked = _mask(query)
    if re.search(r"\b(EXCEPT|INTERSECT)\b", masked, re.IGNORECASE):
        return None
    seps = list(re.finditer(r"\bUNION(\s+ALL)?\b", masked, re.IGNORECASE))
    if not seps or any(m.group(1) is None for m in seps):
        return None
    cuts = [0] + [i for m in seps for i in m.span()] + [len(query)]
    blocks = [query[a:b].strip() for a, b in zip(cuts[::2], cuts[1::2])]
    if not all(_SELECT_HEAD.match(b) for b in blocks):
        return None
    tail: dict[str, str] = {}
    m = _ORDER_OR_LIMIT.search(_mask(blocks[-1]))
    if m:
        try:
            tail = _clause_map(blocks[-1][m.start() :].rstrip().rstrip(";"))
        except Unsupported:
            return None
        del tail[""]
        blocks[-1] = blocks[-1][: m.start()].rstrip()
    if any(_ORDER_OR_LIMIT.search(_mask(b)) for b in blocks):
        return None
    return blocks, tail


def where_extent(text: str, stop: str) -> tuple[str, str] | None:
    """``(predicate, text without the WHERE clause)`` for the top-level
    ``WHERE`` of ``text``, which runs to the first top-level keyword
    matching the regex alternation ``stop``; None without a WHERE.  A
    keyword inside a literal (``'on time'``) or parentheses never ends
    the predicate."""
    masked = _mask(text)
    wm = re.search(r"\bWHERE\b", masked, re.IGNORECASE)
    if wm is None:
        return None
    em = re.compile(rf"\b(?:{stop})\b", re.IGNORECASE).search(masked, wm.end())
    end = em.start() if em else len(text)
    return text[wm.end() : end].strip(), text[: wm.start()] + " " + text[end:]


# ---------------------------------------------------------------- FROM
_JOIN_RE = re.compile(
    r"\b((?:INNER\s+|LEFT\s+(?:OUTER\s+)?|RIGHT\s+(?:OUTER\s+)?"
    r"|FULL\s+(?:OUTER\s+)?|CROSS\s+|SEMI\s+|ANTI\s+)?JOIN)\b",
    re.IGNORECASE,
)


def _parse_table_ref(text: str) -> TableRef:
    text = text.strip()
    if text.startswith("("):
        # derived table: (SELECT ...) alias — the balanced close paren
        # is located on the literal-masked text so ')' inside a string
        # never terminates the body (QueryExecutionPlanFactory.java:
        # 242-345 lifts these into dependent plan nodes; here the inner
        # text is either row-local — planned into the per-block
        # transform — or opaque, executed exactly as a dimension)
        spans = from_subquery_spans(text)
        if not spans or spans[0][0] != 0:
            raise Unsupported("non-SELECT derived table")
        _, close, inner = spans[0]
        m = re.fullmatch(r"(?:AS\s+)?(\w+)", text[close + 1 :].strip(), re.IGNORECASE)
        if not m:
            raise Unsupported("derived table requires an alias")
        parsed_inner = None
        try:
            parsed_inner = parse_simple_inner(inner)
        except Unsupported:
            pass  # opaque derived table — executed exactly as a dim
        return TableRef(
            name=parsed_inner[0] if parsed_inner else "",
            alias=m.group(1),
            subquery=inner,
            inner=parsed_inner,
        )
    if "(" in text:
        raise Unsupported("subquery in FROM")
    m = re.fullmatch(r"([\w\.]+)(?:\s+(?:AS\s+)?(\w+))?", text, re.IGNORECASE)
    if not m:
        raise Unsupported(f"unparseable table reference {text!r}")
    name, alias = m.group(1), m.group(2)
    if alias and alias.upper() in ("ON", "JOIN", "WHERE"):
        raise Unsupported("keyword where alias expected")
    return TableRef(name=name, alias=alias or name.split(".")[-1])


def parse_simple_inner(inner: str) -> tuple[str, list[tuple[str, str]] | None, str | None]:
    """Parse a derived-table body of the ROW-LOCAL shape
    ``SELECT <items> FROM <table> [WHERE ...]`` — the class the
    progressive transform can absorb (each scramble row maps to 0/1
    output rows deterministically, so per-block inclusion
    probabilities carry through; the contract ``progressive_agg``
    documents).  Returns ``(table_name, items, where)`` where
    ``items`` is ``[(expr, alias), ...]`` or ``None`` for ``*``.
    Raises ``Unsupported`` for joins, aggregates, GROUP BY/HAVING/
    ORDER BY/LIMIT, DISTINCT, or nested subqueries."""
    cl = _clauses(inner)
    for k in ("GROUP BY", "HAVING", "ORDER BY", "LIMIT"):
        if k in cl:
            raise Unsupported(f"derived table with {k}")
    if re.match(r"^\s*DISTINCT\b", cl["SELECT"], re.IGNORECASE):
        raise Unsupported("derived table with DISTINCT")
    tables, joins = _parse_from(cl["FROM"])
    if joins or tables[0].subquery is not None:
        raise Unsupported("derived table must scan a single base table")
    quals = [tables[0].alias, tables[0].name]
    items: list[tuple[str, str]] | None = None
    if cl["SELECT"] != "*":
        items = []
        for _, alias, sexpr in _select_items(cl, quals)[0]:
            if _calls(sexpr, AGG_FUNCS):
                raise Unsupported("aggregate inside derived table")
            name = alias or (sexpr if re.fullmatch(r"\w+", sexpr) else None)
            if name is None:
                raise Unsupported("derived-table select item needs an alias")
            items.append((sexpr, name))
    where = cl.get("WHERE")
    if where is not None:
        if re.search(r"\bselect\b", where, re.IGNORECASE):
            raise Unsupported("subquery inside derived-table WHERE")
        where = strip_qualifiers(where, quals)
    return tables[0].name, items, where


def _parse_on_pairs(cond: str) -> list[tuple[str, str]]:
    """ON a.x = b.y [AND ...] — equi pairs only; anything else is
    unsupported (the caller falls back to exact)."""
    pairs = []
    for piece in _split_top_level(cond, r"\bAND\b"):
        m = re.fullmatch(r"\s*([\w\.]+)\s*=\s*([\w\.]+)\s*", piece)
        if not m:
            raise Unsupported(f"non-equi join condition {piece!r}")
        pairs.append((m.group(1), m.group(2)))
    return pairs


def _parse_from(text: str) -> tuple[list[TableRef], list[JoinClause]]:
    masked = _mask(text)
    if "," in masked:
        raise Unsupported("comma join")
    hits = list(_JOIN_RE.finditer(masked))
    first_seg = text[: hits[0].start()] if hits else text
    tables = [_parse_table_ref(first_seg)]
    joins: list[JoinClause] = []
    for i, h in enumerate(hits):
        kw = h.group(1).split()[0].upper()
        if kw in ("JOIN", "INNER"):
            how = "inner"
        elif kw == "LEFT":
            # LEFT JOIN is rewritable when the probe (left) side carries
            # the scramble: per-row inclusion probability is unchanged by
            # null-extension (the planner enforces that the attached
            # table is an unscrambled dimension)
            how = "left"
        elif kw == "RIGHT":
            # RIGHT JOIN mirrors to the LEFT machinery below (the
            # reference IR carries rightouter, core/sqlobject/
            # JoinTable.java JoinType): `A RIGHT JOIN B` == `B LEFT
            # JOIN A`, so the preserved (right) table must carry the
            # scramble and the null-producing left an unscrambled dim
            how = "right"
        else:
            raise Unsupported(f"{kw} JOIN is not rewritable")
        seg_end = hits[i + 1].start() if i + 1 < len(hits) else len(text)
        seg = text[h.end() : seg_end]
        seg_masked = masked[h.end() : seg_end]
        on = re.search(r"\bON\b", seg_masked, re.IGNORECASE)
        if not on:
            raise Unsupported("JOIN without ON")
        tref = _parse_table_ref(seg[: on.start()])
        pairs = _parse_on_pairs(seg[on.end() :])
        tables.append(tref)
        joins.append(JoinClause(table=tref, pairs=pairs, how=how))
    if any(j.how == "right" for j in joins):
        # mirror `A RIGHT JOIN B ON p` to `B LEFT JOIN A ON p` so the
        # planner sees the one outer shape it knows; outer joins don't
        # commute with reordering, so only the two-table form maps
        if len(joins) != 1 or len(tables) != 2:
            raise Unsupported("RIGHT JOIN only maps in a two-table FROM")
        tables = [tables[1], tables[0]]
        joins = [JoinClause(table=tables[1], pairs=joins[0].pairs, how="left")]
    return tables, joins


# --------------------------------------------------------------- SELECT
def _stat_identity(op: str, args: list[str]) -> str:
    """The sum/count decomposition of one variance-family call.

    Null semantics follow SQL: single-arg moments inherit them from
    ``sum``/``count`` skipping nulls; two-arg calls restrict every
    partial to rows where BOTH inputs are non-null via ``+ 0*other``
    (``x + 0*y`` is null exactly when x or y is).  Inputs are cast to
    DOUBLE so integer columns can't overflow in ``sum(x*x)`` (the
    engines compute these in double anyway).  Tiny negative moment
    differences from float error are clamped before sqrt; empty /
    degenerate groups yield NULL via the CASE guards (Spark's non-ANSI
    x/0 would too, but the guard is explicit)."""
    if op in _TWO_ARG_STATS:
        if len(args) != 2:
            raise Unsupported(f"{op} takes two arguments")
        x = f"CAST(({args[0]}) AS DOUBLE)"
        y = f"CAST(({args[1]}) AS DOUBLE)"
        n = f"count(({x})*({y}))"
        sx = f"sum(({x}) + 0*({y}))"
        sy = f"sum(({y}) + 0*({x}))"
        sxy = f"sum(({x})*({y}))"
        if op == "covar_pop":
            return f"CASE WHEN ({n}) > 0 THEN (({sxy}) - ({sx})*({sy})/({n}))/({n}) END"
        if op == "covar_samp":
            return (
                f"CASE WHEN ({n}) > 1 THEN"
                f" (({sxy}) - ({sx})*({sy})/({n}))/(({n}) - 1) END"
            )
        sxx = f"sum(({x})*({x}) + 0*({y}))"
        syy = f"sum(({y})*({y}) + 0*({x}))"
        dx = f"(({n})*({sxx}) - ({sx})*({sx}))"
        dy = f"(({n})*({syy}) - ({sy})*({sy}))"
        return (
            f"CASE WHEN ({n}) > 0 AND {dx} > 0 AND {dy} > 0 THEN"
            f" (({n})*({sxy}) - ({sx})*({sy})) / (sqrt({dx}) * sqrt({dy})) END"
        )
    if len(args) != 1:
        raise Unsupported(f"{op} takes one argument")
    x = f"CAST(({args[0]}) AS DOUBLE)"
    n = f"count({x})"
    s = f"sum({x})"
    q = f"sum(({x})*({x}))"
    num = f"greatest(0.0, ({q}) - ({s})*({s})/({n}))"
    if op == "var_pop":
        return f"CASE WHEN ({n}) > 0 THEN ({num})/({n}) END"
    if op in ("var_samp", "variance"):
        return f"CASE WHEN ({n}) > 1 THEN ({num})/(({n}) - 1) END"
    if op == "stddev_pop":
        return f"CASE WHEN ({n}) > 0 THEN sqrt(({num})/({n})) END"
    # stddev_samp / stddev
    return f"CASE WHEN ({n}) > 1 THEN sqrt(({num})/(({n}) - 1)) END"


def _expand_stats(text: str) -> str:
    """Replace every variance-family aggregate call in ``text`` with
    its sum/count decomposition (located on the string-masked text so
    call text inside literals is never touched).  The result flows
    through the existing composite-aggregate machinery: each sum/count
    becomes a (hidden, deduped) partial and the identity is evaluated
    as a residual over the estimate frame."""
    out, pos = [], 0
    for op, start, open_, close in _calls(text, STAT_FUNCS):
        inner = text[open_ + 1 : close]
        if re.match(r"\s*DISTINCT\s+", inner, re.IGNORECASE):
            raise Unsupported(f"{op}(DISTINCT ...) is not rewritable")
        args = [a for a in _split_top_level(inner) if a]
        out += [text[pos:start], f"({_stat_identity(op, args)})"]
        pos = close + 1
    return "".join(out) + text[pos:] if out else text


def _agg_call(name: str, args: str) -> tuple[str, str, bool]:
    """``(op, argument, DISTINCT)`` of one call to an ``AGG_FUNCS``
    aggregate: COUNT(DISTINCT x) and approx_count_distinct(x) are the
    one ``countdistinct`` op; DISTINCT on any other aggregate is not
    rewritable (duplicates across blocks)."""
    m = re.match(r"\s*DISTINCT\s+", args, re.IGNORECASE)
    if m and name not in ("count", "approx_count_distinct"):
        raise Unsupported(f"{name}(DISTINCT ...) is not rewritable")
    op = "countdistinct" if m or name == "approx_count_distinct" else name
    return op, args[m.end() if m else 0 :].strip(), m is not None


# words that legally trail an expression and must never be read as an
# implicit alias (SELECT expr alias — SQL allows omitting AS)
_ALIAS_STOPWORDS = frozenset(
    "ASC DESC AND OR NOT NULL TRUE FALSE END OVER ALL DISTINCT IS IN "
    "BETWEEN LIKE ESCAPE CASE WHEN THEN ELSE AS".split()
)
# infix keywords: a head ENDING in one of these is an incomplete
# expression, so the trailing word is its operand, not an alias
# (`a LIKE b`, `INTERVAL '1' DAY`).  END is NOT here: it terminates a
# CASE, so a word after it IS an alias (`CASE ... END sign`).
_INFIX_TAIL = frozenset(
    "LIKE RLIKE REGEXP ILIKE IN IS NOT AND OR BETWEEN ESCAPE AS THEN "
    "WHEN ELSE CASE OVER FILTER DISTINCT ALL UNION EXCEPT INTERSECT "
    "INTERVAL BY ORDER GROUP".split()
)


def _split_alias(item: str) -> tuple[str, str | None]:
    masked = _mask(item)
    m = re.search(r"\s+AS\s+(\w+)\s*$", masked, re.IGNORECASE)
    if m:
        return item[: m.start()].strip(), item[m.start() : m.end()].split()[-1]
    # implicit alias (``sum(a) total``): a trailing bare identifier
    # whose preceding token ends in ')' or a word char.  Operators
    # (``a + b``) never match — '+' is neither; masked literals
    # (``DATE '...'``) blank to spaces and leave no trailing word.
    # Without this, an agg item with a bare alias fell into the
    # composite branch and silently renamed the output column.
    m = re.fullmatch(
        r"\s*(?P<head>[\s\S]*[\)\w])\s+(?P<alias>[A-Za-z_]\w*)\s*", masked
    )
    if m and m.group("alias").upper() not in _ALIAS_STOPWORDS:
        head = m.group("head").rstrip()
        if head.endswith(")"):
            # a head ending in ')' is a complete call / parenthesized
            # expression (incl. sum(x) OVER (...)): trailing word is
            # its alias — the infix check below is for WORD tails only
            return item[: m.end("head")].strip(), m.group("alias")
        head_words = re.findall(r"\w+", head)
        if not (head_words and head_words[-1].upper() in _INFIX_TAIL):
            return item[: m.end("head")].strip(), m.group("alias")
    return item.strip(), None


def strip_qualifiers(text: str, aliases: list[str]) -> str:
    """Drop ``alias.`` prefixes (column names must be unambiguous —
    the executor checks ownership separately).  Spark would read
    ``t.col`` as a struct-field access once the join has flattened
    the schema.

    Matches are located on the STRING-MASKED text so a literal like
    ``'c.o.d.'`` is never rewritten (the raw-regex version corrupted
    constants containing ``<alias>.``), then spliced out of the
    original by position."""
    masked = _mask(text, keep_depth0_only=False)
    spans: list[tuple[int, int]] = []
    for a in sorted(set(aliases), key=len, reverse=True):
        for m in re.finditer(rf"\b{re.escape(a)}\.(?=\w)", masked):
            if not any(s <= m.start() < e for s, e in spans):
                spans.append((m.start(), m.end()))
    out, pos = [], 0
    for s, e in sorted(spans):
        out.append(text[pos:s])
        pos = e
    out.append(text[pos:])
    return "".join(out)


def _select_items(
    cl: dict[str, str], aliases: list[str]
) -> tuple[list[tuple[str, str | None, str]], list[str]]:
    """The select list of a clause map as ``(expr, alias or None, expr
    without qualifiers)`` per item, and the GROUP BY expressions without
    qualifiers, an ordinal resolved to its select item's expression."""
    items = []
    for item in _split_top_level(cl["SELECT"]):
        expr, alias = _split_alias(item)
        items.append((expr, alias, strip_qualifiers(expr, aliases)))
    groups: list[str] = []
    for g in _split_top_level(cl["GROUP BY"]) if "GROUP BY" in cl else []:
        if re.fullmatch(r"\d+", g):
            idx = int(g) - 1
            if not 0 <= idx < len(items):
                raise Unsupported("GROUP BY ordinal out of range")
            groups.append(items[idx][2])
        else:
            groups.append(strip_qualifiers(g, aliases))
    return items, groups


def _extract_where_subqs(
    text: str, aliases: list[str]
) -> tuple[str | None, list[WhereSubquery]]:
    """Split WHERE into plain conjuncts and extractable subquery
    conjuncts (``lhs [NOT] IN (SELECT ...)``, ``[NOT] EXISTS
    (SELECT ...)``).  Only TOP-LEVEL AND conjuncts are extractable — a
    subquery under OR/scalar comparison cannot become a join filter
    and raises ``Unsupported`` (exact fallback)."""
    # literal-masked (structure visible) text decides whether any
    # subquery is present at all
    if not re.search(
        r"\bselect\b", _mask(text, keep_depth0_only=False), re.IGNORECASE
    ):
        return text, []
    # A top-level OR anywhere in the WHERE makes AND-conjunct
    # extraction unsound: `a = 1 OR b = 2 AND x IN (SELECT ...)`
    # parses as `a OR (b AND x IN ...)`, but splitting on AND would
    # hoist the subquery into a MANDATORY semi-join filter — silently
    # wrong results.  (Parenthesized ORs are invisible to the depth-0
    # mask and remain fine: `(a OR b) AND x IN (...)` is a genuine
    # conjunction.)  Exact fallback.
    if re.search(r"\bOR\b", _mask(text), re.IGNORECASE):
        raise Unsupported("WHERE mixes top-level OR with a subquery")
    keep: list[str] = []
    subqs: list[WhereSubquery] = []
    for c in _split_top_level(text, r"\bAND\b"):
        lit_masked = _mask(c, keep_depth0_only=False)
        if not re.search(r"\bselect\b", lit_masked, re.IGNORECASE):
            keep.append(c)
            continue
        masked = _mask(c)  # depth-0 only: subquery body blanked, parens kept
        # the conjunct must END with the subquery's balanced paren group
        groups = _paren_groups(masked)
        if not groups or masked[groups[-1][1] + 1 :].strip():
            raise Unsupported(f"non-rewritable subquery conjunct {c.strip()[:60]!r}")
        op, close = groups[-1]
        # what precedes the parens must be `[lhs] [NOT] IN|EXISTS`
        # or a scalar comparison `lhs COMP`
        m = re.search(
            r"(?:^|[\s)])(?P<not>NOT\s+)?(?P<kw>IN|EXISTS)\s*$",
            masked[:op],
            re.IGNORECASE,
        )
        inner = c[op + 1 : close].strip()
        if not re.match(r"^\s*select\b", inner, re.IGNORECASE):
            raise Unsupported("non-SELECT parenthesized WHERE term")
        if m is None:
            # scalar comparison subquery (supported_queries.md:278-279
            # "expr COMP (subquery)"): the inner runs exactly at plan
            # time on the ORIGINAL tables and splices in as a constant
            cm = re.search(r"(?P<comp><=|>=|<>|!=|=|<|>)\s*$", masked[:op])
            if cm is None:
                raise Unsupported(
                    f"non-rewritable subquery conjunct {c.strip()[:60]!r}"
                )
            lhs_raw = c[: cm.start()].strip()
            if not lhs_raw or re.search(
                r"\b(NOT|BETWEEN|IN|LIKE|IS)\b|[<>=!]",
                _mask(lhs_raw, keep_depth0_only=False),
                re.IGNORECASE,
            ):
                raise Unsupported(
                    f"non-rewritable scalar-subquery probe {lhs_raw[:60]!r}"
                )
            subqs.append(
                WhereSubquery(
                    kind="scalar",
                    lhs=strip_qualifiers(lhs_raw, aliases),
                    inner=inner,
                    comp=cm.group("comp"),
                )
            )
            continue
        lhs_end = m.start("not") if m.group("not") else m.start("kw")
        lhs_raw = c[:lhs_end].strip()  # sliced from the ORIGINAL text
        if m.group("kw").upper() == "EXISTS":
            if lhs_raw:
                raise Unsupported("EXISTS with a probe expression")
            kind = "not_exists" if m.group("not") else "exists"
            lhs = None
        else:
            if not lhs_raw:
                raise Unsupported("IN without a probe expression")
            if re.search(r"\b(OR|NOT)\b", masked[:lhs_end], re.IGNORECASE):
                # `a = 1 OR x IN (SELECT ...)`: the subquery is under a
                # disjunction — it cannot become a standalone join filter
                raise Unsupported(f"subquery under OR/NOT in {c.strip()[:60]!r}")
            kind = "not_in" if m.group("not") else "in"
            lhs = strip_qualifiers(lhs_raw, aliases)
        subqs.append(WhereSubquery(kind=kind, lhs=lhs, inner=inner))
    return (" AND ".join(keep) if keep else None), subqs


# ----------------------------------------------------------------- CTEs
_TABLE_POS_KEYWORDS = frozenset(
    "JOIN INNER LEFT RIGHT FULL CROSS ON WHERE GROUP HAVING ORDER LIMIT "
    "UNION EXCEPT INTERSECT AND OR SELECT".split()
)


def inline_ctes(query: str) -> str | None:
    """``WITH a AS (SELECT ...), b AS (...) SELECT ...`` -> the main
    SELECT with each SINGLE-USE CTE inlined as a FROM derived table
    (the reference grammar parses CTEs, VerdictSQLParser.g4:355-358;
    here inlining lets the existing derived-table / nested-aggregation
    machinery substitute scrambles inside CTE bodies).  Returns None
    when the statement has no WITH prefix or any CTE resists inlining
    (multi-use, column list, RECURSIVE, non-FROM reference) — callers
    keep the ORIGINAL text and exact ``spark.sql`` handles WITH
    natively, so a refused inline can never corrupt the query."""
    if not re.match(r"^\s*WITH\s+", query, re.IGNORECASE) or re.match(
        r"^\s*WITH\s+RECURSIVE\b", query, re.IGNORECASE
    ):
        return None
    try:
        masked = _mask(query, keep_depth0_only=False)
    except Unsupported:
        return None
    pos = re.match(r"^\s*WITH\s+", query, re.IGNORECASE).end()
    ctes: list[str] = []
    names: list[str] = []
    while True:
        mname = re.match(r"\s*([A-Za-z_]\w*)\s+AS\s*\(", masked[pos:], re.IGNORECASE)
        if not mname:
            return None  # column-list form or shapes we don't carry
        names.append(query[pos + mname.start(1) : pos + mname.end(1)])
        open_i = pos + mname.end() - 1
        close = _matching_paren(masked, open_i)
        if close < 0:
            return None
        ctes.append(query[open_i + 1 : close].strip())
        after_comma = re.match(r"\s*,", masked[close + 1 :])
        pos = close + 1 + (after_comma.end() if after_comma else 0)
        if not after_comma:
            break
    main = query[pos:].strip()
    if not re.match(r"^\s*select\b", main, re.IGNORECASE):
        return None
    # inline back-to-front so a CTE referencing an EARLIER one sees the
    # earlier body spliced in afterwards; single FROM/JOIN-positioned
    # use only (a name that appears anywhere else refuses, never mangles)
    texts = ctes + [main]
    dead: set[int] = set()  # CTE slots already spliced into their user
    for idx in range(len(ctes) - 1, -1, -1):
        name = names[idx]
        refs: list[tuple[int, int, int]] = []
        for j in range(idx + 1, len(texts)):
            if j in dead:
                continue
            tm = _mask(texts[j], keep_depth0_only=False)
            for mm in re.finditer(rf"\b{re.escape(name)}\b", tm, re.IGNORECASE):
                refs.append((j, mm.start(), mm.end()))
        if len(refs) != 1:
            return None
        j, s, e = refs[0]
        target = texts[j]
        tm = _mask(target, keep_depth0_only=False)
        if not re.search(r"\b(FROM|JOIN)\s*$", tm[:s], re.IGNORECASE):
            return None  # not a table position (column ref, qualifier)
        malias = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", tm[e:])
        aliased = malias is not None and malias.group(1).upper() not in (
            _TABLE_POS_KEYWORDS
        )
        repl = f"({texts[idx]})" + ("" if aliased else f" {name}")
        texts[j] = target[:s] + repl + target[e:]
        dead.add(idx)
    return texts[-1]


# --------------------------------------------------------------- parse
def parse_select(sql: str) -> ParsedSelect:
    """Parse a rewritable aggregate SELECT.  Raises ``Unsupported``
    for anything outside the shape — the caller treats that as the
    exact-fallback signal, mirroring the reference's pass-through."""
    cl = _clauses(sql)
    if re.match(r"^\s*DISTINCT\b", cl["SELECT"], re.IGNORECASE):
        raise Unsupported("SELECT DISTINCT")
    tables, joins = _parse_from(cl["FROM"])
    aliases = [t.alias for t in tables] + [t.name for t in tables]

    # WHERE: [NOT] IN (SELECT ...) / [NOT] EXISTS (SELECT ...) at
    # top-level AND positions lift out as semi/anti-join filters; any
    # other subquery shape raises (exact fallback)
    where_text = cl.get("WHERE")
    where_subqs: list[WhereSubquery] = []
    if where_text is not None:
        where_text, where_subqs = _extract_where_subqs(where_text, aliases)

    # join pairs lose their qualifiers (ownership resolved by schema)
    for j in joins:
        j.pairs = [
            (strip_qualifiers(l, aliases), strip_qualifiers(r, aliases))
            for l, r in j.pairs
        ]

    select_items, groups = _select_items(cl, aliases)
    group_items: list[GroupItem] = []
    agg_items: list[AggItem] = []
    select_order: list[str] = []
    composites: list[tuple[str, str]] = []
    norm_groups = {norm_expr(g) for g in groups}
    agg_by_norm: dict[str, AggItem] = {}

    def rewrite_aggs(text: str) -> str:
        """Replace aggregate calls in qualifier-free select/HAVING/ORDER
        BY text with select aliases, adding hidden aggregates for calls
        not selected.  Calls are LOCATED on the string-masked text (the
        module's masking invariant) so agg-call text inside a literal
        — ``HAVING g = 'sum(a)'`` — is never rewritten; replacements
        are spliced into the original text by position."""
        out, pos = [], 0
        for name, start, open_, close in _calls(text, AGG_FUNCS):
            key = norm_expr(text[start : close + 1])
            it = agg_by_norm.get(key)
            if it is None:
                op, arg, _ = _agg_call(name, text[open_ + 1 : close])
                it = AggItem(
                    op=op,
                    expr=None if (op == "count" and arg == "*") else arg,
                    alias=f"_vdb_h{len(agg_items)}",
                    hidden=True,
                )
                agg_items.append(it)
                agg_by_norm[key] = it
            out += [text[pos:start], it.alias]
            pos = close + 1
        return "".join(out) + text[pos:]

    for expr, alias, sexpr in select_items:
        expanded = _expand_stats(sexpr)
        if expanded != sexpr:
            # variance-family call (possibly inside a larger
            # expression): the decomposed text is a composite over
            # sum/count partials; the display name comes from the
            # ORIGINAL text so `var_pop(x)` shows as var_pop_x
            name = alias or re.sub(r"\W+", "_", sexpr).strip("_")[:48].lower()
            composites.append((name, rewrite_aggs(expanded)))
            select_order.append(name)
            continue
        call = _whole_call(sexpr, AGG_FUNCS)
        if call is not None:
            op, arg, distinct = _agg_call(*call)
            if arg == "*" and call[0] != "count":
                raise Unsupported(f"{call[0]}(*)")
            arg = None if arg == "*" else arg
            name = alias or re.sub(r"\W+", "_", f"{op}_{arg or 'star'}").strip("_")
            it = AggItem(op=op, expr=arg, alias=name, distinct=distinct)
            agg_items.append(it)
            agg_by_norm[norm_expr(sexpr)] = it
            select_order.append(name)
        elif norm_expr(sexpr) in norm_groups:
            name = alias or (sexpr if re.fullmatch(r"\w+", sexpr) else None)
            gi = GroupItem(expr=sexpr, alias=name or f"_vdb_g{len(group_items)}")
            group_items.append(gi)
            select_order.append(gi.alias)
        elif _calls(sexpr, AGG_FUNCS):
            # composite aggregate expression — sum(a)/sum(b), 100*avg(x),
            # sum(x)+1: decompose every top-level agg call to a (hidden)
            # partial alias and evaluate the residual over the estimate
            # frame (the reference rebuilds arbitrary expressions around
            # decomposed partials, replaceColumnWithAggMeta:565-639)
            name = alias or re.sub(r"\W+", "_", sexpr).strip("_")[:48].lower()
            composites.append((name, rewrite_aggs(sexpr)))
            select_order.append(name)
        else:
            raise Unsupported(
                f"non-aggregate select item {expr!r} not in GROUP BY"
            )
    # GROUP BY columns not in the select list still shape the result;
    # SQL semantics project them away, which the executor honors by
    # grouping on them but excluding them from the output
    norm_selected = {norm_expr(g.expr) for g in group_items}
    for g in groups:
        if norm_expr(g) not in norm_selected:
            group_items.append(
                GroupItem(expr=g, alias=f"_vdb_gx{len(group_items)}")
            )
    if len(select_order) != len(set(select_order)):
        # pandas/Spark estimate frames key columns by name — a repeated
        # output alias would silently collapse to the last aggregate;
        # the exact path returns two distinct columns, so fall back
        raise Unsupported("duplicate select-list alias")

    having = None
    if "HAVING" in cl:
        having = rewrite_aggs(_expand_stats(strip_qualifiers(cl["HAVING"], aliases)))

    order_by, limit = order_limit(cl, select_order)
    for o in order_by:
        o.expr = rewrite_aggs(_expand_stats(strip_qualifiers(o.expr, aliases)))
        # map group expressions to their output aliases
        for gi in group_items:
            if norm_expr(o.expr) == norm_expr(gi.expr):
                o.expr = gi.alias
                break

    if not agg_items:
        # (checked after HAVING/ORDER BY, which may add hidden aggs)
        raise Unsupported("no aggregates — nothing to approximate")

    return ParsedSelect(
        tables=tables,
        joins=joins,
        select_order=select_order,
        agg_items=agg_items,
        group_items=group_items,
        composites=composites,
        where_subqs=where_subqs,
        where=strip_qualifiers(where_text, aliases) if where_text else None,
        having=having,
        order_by=order_by,
        limit=limit,
    )


# --------------------------------------------------------- percentile
# `percentile(col, p)` is the reference's declared percentile surface
# (supported_queries.md "Future supported aggregate functions":
# "percentile(col1, p) — p should be within 0.01 and 0.99").  It is
# answered by a one-pass mergeable KLL sketch (rank-error bounded)
# rather than the progressive sum/count machinery, so it parses into
# its own narrow shape: one base table, percentile calls + group
# columns only.  Returns None (never raises) — the caller treats None
# as "not this shape" and continues down the fallback chain.
PCT_FUNCS = ("percentile", "approx_percentile", "percentile_approx", "median")


@dataclass
class PercentileSelect:
    table: str
    where: str | None
    group_cols: list[str]  # source column names, sketch group keys
    group_out: list[tuple[str, str]]  # (source col, output name)
    items: list[tuple[str, str, float]]  # (output name, input expr, p)
    select_order: list[str]
    order_by: list[OrderItem]
    limit: int | None


def parse_percentile_select(sql: str) -> PercentileSelect | None:
    try:
        return _parse_percentile(sql)
    except Unsupported:
        return None


def _parse_percentile(sql: str) -> PercentileSelect | None:
    cl = _clauses(sql)
    if re.match(r"^\s*DISTINCT\b", cl["SELECT"], re.IGNORECASE) or "HAVING" in cl:
        return None
    tables, joins = _parse_from(cl["FROM"])
    if joins or len(tables) != 1 or tables[0].subquery is not None:
        return None
    aliases = [tables[0].alias, tables[0].name]
    where = cl.get("WHERE")
    if where is not None:
        where = strip_qualifiers(where, aliases)
        if re.search(r"\bselect\b", _mask(where, keep_depth0_only=False), re.IGNORECASE):
            return None  # WHERE subqueries stay on the main planner path
    select_items, group_exprs = _select_items(cl, aliases)
    if any(not re.fullmatch(r"\w+", g) for g in group_exprs):
        return None  # sketch group keys must be plain columns
    norm_g = {norm_expr(g) for g in group_exprs}
    items: list[tuple[str, str, float]] = []
    group_out: list[tuple[str, str]] = []
    select_order: list[str] = []
    for _, alias, sexpr in select_items:
        call = _whole_call(sexpr, PCT_FUNCS)
        if call is not None:
            args = _split_top_level(call[1])
            if call[0] == "median":
                # median(x) == percentile(x, 0.5)
                if len(args) != 1:
                    return None
                col, p = args[0], 0.5
            else:
                if len(args) != 2:
                    return None
                col = args[0]
                try:
                    p = float(args[1])
                except ValueError:
                    return None
                if not (0.0 < p < 1.0):
                    return None
            name = alias or re.sub(
                r"\W+", "_", f"p{round(p * 100):02d}_{col}"
            ).strip("_").lower()
            items.append((name, col, p))
            select_order.append(name)
        elif norm_expr(sexpr) in norm_g:
            # (a percentile inside a larger expression lands here too)
            name = alias or (sexpr if re.fullmatch(r"\w+", sexpr) else None)
            if name is None:
                return None
            group_out.append((sexpr, name))
            select_order.append(name)
        else:
            return None
    if not items or len(select_order) != len(set(select_order)):
        return None
    # GROUP BY columns not selected still shape the sketch groups
    selected = {norm_expr(g) for g, _ in group_out}
    group_cols = [g for g, _ in group_out] + [
        g for g in group_exprs if norm_expr(g) not in selected
    ]

    order_by, limit = order_limit(cl, select_order)
    for o in order_by:
        o.expr = strip_qualifiers(o.expr, aliases)
        for src, out_name in group_out:
            if norm_expr(o.expr) == norm_expr(src):
                o.expr = out_name
                break
        if o.expr not in select_order:
            return None

    return PercentileSelect(
        table=tables[0].name,
        where=where,
        group_cols=group_cols,
        group_out=group_out,
        items=items,
        select_order=select_order,
        order_by=order_by,
        limit=limit,
    )
