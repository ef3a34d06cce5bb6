"""VerdictContext — the reference's public front door, Spark-first.

Rebuilds the two entry points a VerdictDB user actually touches:

* automatic scramble substitution: the user queries the ORIGINAL
  table name and the system transparently swaps in the newest
  registered scramble (``sqlreader/ScrambleTableReplacer.java:61-229``
  invoked from ``coordinator/SelectQueryCoordinator.java:118-171``)
  and runs the progressive plan with early stop;
* a SQL string API — ``VerdictContext.sql("SELECT ...")``
  (``VerdictContext.java:386-391``).  The parse layer
  (``sqlparse.py``) recognizes clause STRUCTURE only and hands every
  expression to Catalyst via ``F.expr`` — so aggregates over
  arbitrary expressions (``sum(l_extendedprice * (1 - l_discount))``,
  the reference's ``ExpressionGen.java:111-345``), WHERE, GROUP BY
  (names / expressions / ordinals), HAVING, ORDER BY and LIMIT are
  all rewritable.  Joins are routed by how many of the FROM tables
  have registered scrambles: one scramble + dimensions runs the
  per-block transform join; two scrambles run the ripple-cube join;
  N scrambles run the hyper-table-cube chain join (the reference's
  ``ScrambleTableReplacer`` walks join trees the same way).  Any
  statement outside the rewritable shape falls back to exact
  ``spark.sql`` — the reference's pass-through contract.

Scrambles are persisted block-partitioned (partition pruning per
progressive step) and registered in the ``MetaStore`` (newest-wins
lookup, ``metastore/ScrambleMetaStore.java:184``).
"""

from __future__ import annotations

import hashlib
import os
import re
import uuid
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .metastore import MetaStore
from .sampling.progressive import AggSpec, ProgressiveResult, approx_agg
from .sampling.scramble import (
    BLOCK_COL,
    DEFAULT_BLOCK_SIZE,
    TIER_COL,
    ScrambleMeta,
    append_scramble,
    create_fastconverge_scramble,
    create_scramble,
    load_scramble,
    write_scramble,
)
from .sqlparse import (
    ParsedSelect,
    Unsupported,
    _clauses,
    _mask,
    _split_top_level,
    from_subquery_spans,
    inline_ctes,
    parse_select,
)

# ---- scramble DDL statements (reference grammar VerdictSQLParser.g4:
# 69-102: create/insert/drop/drop-all/show scramble statements) -------
_SHOW_RE = re.compile(
    # SHOW SAMPLES is the reference docs' legacy spelling for the same
    # listing (supported_queries.md "show samples [for db]")
    r"^\s*SHOW\s+(?:SCRAMBLES|SAMPLES)(?:\s+FOR\s+(?P<qual>[\w\.]+))?\s*;?\s*$",
    re.IGNORECASE,
)
# legacy sample DDL from the reference docs (supported_queries.md
# "create [XX%] {uniform|stratified|universe} sample of t [on col]"):
# mapped onto the scramble machinery — uniform -> uniform scramble,
# universe -> hash scramble on the column, stratified -> fastconverge
# (the stratified-by-group-size method) on the column
_CREATE_SAMPLE_RE = re.compile(
    r"^\s*CREATE\s+(?:(?P<pct>\d+(?:\.\d+)?)%\s+)?"
    r"(?:(?P<kind>UNIFORM|STRATIFIED|UNIVERSE)\s+)?SAMPLE\s+OF\s+"
    r"(?P<orig>[\w\.]+)(?:\s+ON\s+(?P<col>[\w\.]+))?\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_SAMPLES_RE = re.compile(
    r"^\s*(?:DROP|DELETE)\s+(?:\d+(?:\.\d+)?%\s+)?"
    r"(?:(?:UNIFORM|STRATIFIED|UNIVERSE)\s+)?SAMPLES?\s+OF\s+"
    r"(?P<orig>[\w\.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+SCRAMBLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w\.]+)"
    r"\s+FROM\s+(?P<orig>[\w\.]+)(?P<rest>[\s\S]*?);?\s*$",
    re.IGNORECASE,
)
_DROP_ALL_RE = re.compile(
    r"^\s*DROP\s+ALL\s+SCRAMBLES?\s+(?P<orig>[\w\.]+)\s*;?\s*$", re.IGNORECASE
)
# DESCRIBE for a scramble (the reference docs' `describe table`
# applied to the sample artifact); plain DESCRIBE <table> passes
# through to Spark untouched
_DESCRIBE_SCRAMBLE_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:SCRAMBLE|SAMPLE)\s+(?P<name>[\w\.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+SCRAMBLE\s+(?P<name>[\w\.]+)(?:\s+ON\s+(?P<orig>[\w\.]+))?\s*;?\s*$",
    re.IGNORECASE,
)
_APPEND_RE = re.compile(
    r"^\s*(?:APPEND|INSERT)\s+SCRAMBLE\s+(?P<name>[\w\.]+)"
    r"(?:\s+WHERE\s+(?P<where>[\s\S]+?))?\s*;?\s*$",
    re.IGNORECASE,
)
_OPT_KEYWORDS = r"METHOD|HASHCOLUMN|ON|SIZE|RATIO|BLOCKSIZE"
# statement prefixes / config statements (ExecutionContext.checkBypass:
# 126-149, grammar STREAM select_statement :175, config_statement :104-131)
_BYPASS_RE = re.compile(r"^\s*BYPASS\s+([\s\S]+)$", re.IGNORECASE)
_STREAM_RE = re.compile(r"^\s*STREAM\s+([\s\S]+)$", re.IGNORECASE)
_SET_RE = re.compile(
    r"^\s*SET\s+([\w\.]+)\s*=\s*'?([^';]+?)'?\s*;?\s*$", re.IGNORECASE
)
_GET_RE = re.compile(r"^\s*GET\s+([\w\.]+)\s*;?\s*$", re.IGNORECASE)


def _final_only(kwargs: dict) -> None:
    """Default the schedule of a progressive run whose caller consumes
    only the FINAL estimate (``early_stop=False``); a schedule the
    caller passed is kept.

    With the engine pinned to ``spark`` the span is truly ``single``
    (the distributed estimator is scale-safe for any group
    cardinality).  Otherwise the group cardinality is unknown, so the
    schedule is ``probe`` — block 0 (the origin cell) alone, then the
    remainder in one span: the 1-cell first span bounds the driver
    partial frame and arms the engine-threshold switch BEFORE the full
    box is pulled, while small-group queries keep the cheap driver
    combiner (the forced Spark estimator costs ~0.5-0.8 s of fixed
    shuffle/checkpoint overhead on 3-group queries, while the doubling
    ladder pays ~log2(nblocks) scan jobs — probe takes the best of
    both)."""
    kwargs.setdefault(
        "schedule", "single" if kwargs.get("engine") == "spark" else "probe"
    )


# The route table sql() and stream() walk, in this order
# (VerdictContext._route): (sql() method, stream() method or None,
# whether the sql() method takes with_errors — percentile and nested
# answers carry no _err columns).  Methods are looked up by name on
# every walk.
_ROUTES = (
    ("_try_aggregate", "_stream_aggregate", True),
    ("_try_percentile", "_stream_percentile", False),
    ("_try_nested", "_stream_nested", False),
    ("_try_union", None, True),  # no stream form
)


def _derived_tables(query: str) -> tuple[dict, list] | None:
    """``(clauses, [(start, end, inner SELECT)])`` of a SELECT's FROM
    derived tables, or None when it has none (or its text does not
    scan — exact Spark SQL reports that)."""
    if not re.match(r"^\s*select\b", query, re.IGNORECASE):
        return None
    try:
        cl = _clauses(query)
        spans = from_subquery_spans(cl["FROM"])  # _clauses requires FROM
    except Unsupported:
        return None
    return (cl, spans) if spans else None


def _reassemble(cl: dict, new_from: str) -> str:
    """Rebuild a SELECT statement from its `_clauses` map with a
    rewritten FROM — faithful because `_clauses` enforces canonical
    clause order."""
    parts = ["SELECT " + cl["SELECT"], "FROM " + new_from]
    for kw in ("WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT"):
        if kw in cl:
            parts.append(kw + " " + cl[kw])
    return " ".join(parts)


def _parse_create_options(rest: str) -> dict:
    """WHERE / METHOD / HASHCOLUMN|ON / SIZE|RATIO / BLOCKSIZE options
    of a CREATE SCRAMBLE statement (any order after FROM).

    The WHERE clause's extent is located on text with string literals
    AND parenthesized subexpressions masked, so an option keyword
    inside a literal (``WHERE note = 'on time'``) or inside parens
    (``WHERE (size > 10)``) never truncates the predicate; leftover
    unrecognized text raises instead of being silently dropped."""
    from .sqlparse import _mask

    opts: dict = {}
    masked = _mask(rest, keep_depth0_only=True)
    wm = re.search(r"\bWHERE\b", masked, re.IGNORECASE)
    if wm:
        after = masked[wm.end():]
        em = re.search(rf"\b(?:{_OPT_KEYWORDS})\b", after, re.IGNORECASE)
        wend = wm.end() + (em.start() if em else len(after))
        opts["where"] = rest[wm.end():wend].strip()
        remainder = rest[: wm.start()] + " " + rest[wend:]
    else:
        remainder = rest

    def take(pattern: str, cast=None):
        nonlocal remainder
        m = re.search(pattern, remainder, re.IGNORECASE)
        if not m:
            return None
        v = m.group(1)
        remainder = remainder[: m.start()] + " " + remainder[m.end():]
        return cast(v) if cast else v

    v = take(r"\bMETHOD\s+'?(\w+)'?")
    if v:
        opts["method"] = v.lower()
    v = take(r"\b(?:HASHCOLUMN|ON)\s+([\w\.]+)")
    if v:
        opts["column"] = v
    v = take(r"\b(?:SIZE|RATIO)\s+([0-9]*\.?[0-9]+)", float)
    if v is not None:
        opts["size"] = v
    v = take(r"\bBLOCKSIZE\s+(\d+)", int)
    if v is not None:
        opts["block_size"] = v
    if remainder.strip():
        raise ValueError(
            f"unrecognized CREATE SCRAMBLE options: {remainder.strip()[:60]!r}"
        )
    return opts


_CONF_VALIDATORS = {
    "verdictdb.value_threshold": (float, "a number"),
    "verdictdb.group_threshold": (float, "a number"),
    "verdictdb.engine_threshold": (lambda v: int(float(v)), "an integer"),
    "verdictdb.percentile_k": (lambda v: int(float(v)), "an integer"),
    "verdictdb.engine": (
        lambda v: {"auto": 1, "driver": 1, "spark": 1}[v],
        "one of auto|driver|spark",
    ),
}


@dataclass
class _Plan:
    parsed: ParsedSelect
    scrambles: list[tuple[DataFrame, ScrambleMeta]]  # chain order
    scramble_on: list[list[tuple[str, str]]]  # on[i]: chain link i -> i+1
    dim_joins: list[tuple[DataFrame, list[tuple[str, str]], str]]  # (dim, pairs, how)
    aggs: list[AggSpec]
    group_cols: list[str]
    group_renames: dict[str, str]  # pdf column -> output alias
    derived: list[tuple[str, str]]  # (col name, expr text) added in transform
    # row-local derived table over the scramble: (select items|None, where|None)
    scramble_subq: tuple | None = None
    # WHERE-subquery join filters: (kind in|not_in, lhs, inner_df, key)
    # — constant-outcome subqueries were resolved away at plan time
    where_subqs: list[tuple] = field(default_factory=list)
    # WHERE proven constant-false at plan time (NULL-bearing NOT IN
    # set, statically false EXISTS): sql() runs exact once, stream()
    # yields nothing — neither runs the progressive scan
    const_false: bool = False

    def release(self) -> None:
        """Unpersist the plan-time-persisted WHERE-subquery inners —
        call when the progressive run is done (or abandoned), else the
        Spark cache grows by one entry per planned query."""
        for _, _, inner_df, _ in self.where_subqs:
            if inner_df is not None:  # scalar kinds persist nothing
                inner_df.unpersist()


class VerdictContext:
    """``ctx = VerdictContext(spark, root); ctx.sql("SELECT ...")``.

    ``root`` holds the metastore registry and the scramble parquet
    directories (in production: a warehouse path / object-store
    prefix).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.metastore = MetaStore(root)
        # SET/GET-able session config (reference config_statement);
        # recognized execution knobs are read by sql()/_execute
        self.conf: dict[str, str] = {
            "verdictdb.value_threshold": "0.02",
            "verdictdb.group_threshold": "0.05",
            "verdictdb.engine": "auto",
            "verdictdb.engine_threshold": "200000",
        }

    # ------------------------------------------------------------ DDL
    def create_scramble(
        self,
        source_table: str,
        df: DataFrame,
        method: str = "uniform",
        column: str | None = None,
        nblocks: int | None = None,
        size: float = 1.0,
        seed: int = 42,
        nrows: int | None = None,
        **kwargs,
    ) -> tuple[DataFrame, ScrambleMeta]:
        """CREATE SCRAMBLE analogue: build, persist block-partitioned,
        register.  Deterministic path per (table, params) so re-running
        the DDL is idempotent."""
        extra = "|".join(f"{k}={kwargs[k]}" for k in sorted(kwargs))
        key = hashlib.sha256(
            f"{source_table}|{method}|{column}|{nblocks}|{size}|{seed}|{extra}".encode()
        ).hexdigest()[:16]
        path = os.path.join(self.root, f"scramble_{source_table}_{key}")
        if not os.path.exists(os.path.join(path, "_verdictdb_meta.json")):
            self._build_and_register(
                path, source_table, df, method=method, column=column,
                nblocks=nblocks, size=size, seed=seed, nrows=nrows, **kwargs,
            )
        # return THIS scramble (not newest-wins lookup): a caller that
        # builds both a uniform and a hash scramble for one table gets
        # back what it asked for; sql()/approx() use the lookup path
        return load_scramble(self.spark, path)

    def load_scramble_for(self, source_table: str) -> tuple[DataFrame, ScrambleMeta]:
        """Newest registered scramble for a source table (the
        substitution lookup, ScrambleTableReplacer.java:120-147)."""
        entry = self.metastore.lookup(source_table, kind="scramble")
        if entry is None:
            raise KeyError(f"no scramble registered for table {source_table!r}")
        return load_scramble(self.spark, entry.artifact_path)

    # -------------------------------------------------------- approx()
    def approx(
        self,
        source_table: str,
        aggs: Sequence[AggSpec],
        group_by: Sequence[str] = (),
        where: str | None = None,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        early_stop: bool = True,
        **kwargs,
    ) -> ProgressiveResult:
        """The automatic-substitution front door: query the ORIGINAL
        table name; the registered scramble is substituted and the
        progressive plan runs with accuracy-driven early stop.

        ``early_stop=False`` consumes only the final full-coverage
        estimate, so (unless the caller pins schedule/engine) it runs
        as ONE full-prefix span on the Spark estimate engine instead
        of the refinement ladder — same partials, same estimator,
        one scan."""
        if not early_stop:
            _final_only(kwargs)
        sdf, meta = self.load_scramble_for(source_table)
        tf = transform
        if where is not None:
            cond = where

            def tf(batch, _inner=transform, _cond=cond):
                batch = batch.where(F.expr(_cond))
                return _inner(batch) if _inner is not None else batch

        return approx_agg(
            sdf, meta, aggs, group_by, transform=tf, early_stop=early_stop, **kwargs
        )

    def approx_join(
        self,
        table1: str,
        table2: str,
        on: Sequence[tuple[str, str]],
        aggs: Sequence[AggSpec],
        group_by: Sequence[str] = (),
        transform: Callable[[DataFrame], DataFrame] | None = None,
        early_stop: bool = True,
        **kwargs,
    ) -> ProgressiveResult:
        """Aggregates over a JOIN OF TWO SCRAMBLES — both original
        table names are substituted with their registered scrambles and
        the block plane is covered progressively (the reference's
        ripple/hyper-table cubes, ``ola/HyperTableCube.java:69-106``).
        ``on`` is a list of (table1_col, table2_col) equi-join pairs.
        ``early_stop=False`` runs the whole block plane as one join
        (see :meth:`approx`)."""
        from .sampling.join import approx_join_agg

        if not early_stop:
            _final_only(kwargs)
        s1, m1 = self.load_scramble_for(table1)
        s2, m2 = self.load_scramble_for(table2)
        return approx_join_agg(
            s1, m1, s2, m2, on, aggs, group_by,
            transform=transform, early_stop=early_stop, **kwargs,
        )

    def approx_multi_join(
        self,
        tables: Sequence[str],
        on: Sequence[Sequence[tuple[str, str]]],
        aggs: Sequence[AggSpec],
        group_by: Sequence[str] = (),
        transform: Callable[[DataFrame], DataFrame] | None = None,
        early_stop: bool = True,
        **kwargs,
    ) -> ProgressiveResult:
        """Aggregates over a CHAIN JOIN of N scrambles (the full
        d-dimensional hyper-table cube, ``ola/HyperTableCube.java:
        69-106``).  ``on[i]`` links ``tables[i+1]`` to any earlier
        table in the chain.  ``early_stop=False`` runs the whole
        hypercube as one chain join (see :meth:`approx`)."""
        from .sampling.join import approx_multi_join_agg

        if not early_stop:
            _final_only(kwargs)
        scrambles = [self.load_scramble_for(t) for t in tables]
        return approx_multi_join_agg(
            scrambles, on, aggs, group_by,
            transform=transform, early_stop=early_stop, **kwargs,
        )

    def approx_df(self, *args, **kwargs) -> DataFrame:
        """``approx`` with the estimates returned as a Spark DataFrame
        (kept distributed when the Spark estimate engine produced
        one — no driver round trip)."""
        res = self.approx(*args, **kwargs)
        if res.estimates_sdf is not None:
            return res.estimates_sdf
        return self.spark.createDataFrame(res.estimates)

    # ------------------------------------------------------------- sql
    def sql(
        self, query: str, early_stop: bool = True, with_errors: bool = False
    ) -> DataFrame:
        """Approximate SQL: rewritable aggregate queries over registered
        scrambles run progressively; everything else falls back to
        exact ``spark.sql`` (the reference behaves the same:
        non-rewritable queries pass through,
        SelectQueryCoordinator.java:118-171).

        ``with_errors=True`` appends a ``<alias>_err`` half-width
        (~95% CI) column per aggregate — the reference's
        ``VerdictSingleResult`` accuracy surface.

        Scramble DDL statements (CREATE / APPEND / DROP / DROP ALL
        SCRAMBLE, SHOW SCRAMBLES — the reference grammar's dedicated
        statements) are recognized first and run against the
        metastore; malformed DDL raises rather than falling through
        to Spark, which has no such statements.  ``BYPASS <sql>``
        skips substitution entirely (ExecutionContext.checkBypass);
        ``STREAM <select>`` runs the full progressive refinement
        (use :meth:`stream` for the per-iteration iterator); ``SET
        key = value`` / ``GET key`` read/write :attr:`conf`."""
        m = _BYPASS_RE.match(query)
        if m:
            return self.spark.sql(m.group(1))
        m = _SET_RE.match(query)
        if m:
            key, val = m.group(1).lower(), m.group(2).strip()
            if not key.startswith("verdictdb."):
                # Spark-native SET (spark.sql.*, session vars) passes
                # through untouched — only verdictdb.* keys are ours
                return self.spark.sql(query)
            entry = _CONF_VALIDATORS.get(key)
            if entry is not None:
                check, hint = entry
                try:
                    check(val)
                except Exception:
                    raise ValueError(
                        f"invalid value {val!r} for {key} (expected {hint})"
                    )
            self.conf[key] = val
            return self.spark.createDataFrame(
                [(key, val)], schema="key string, value string"
            )
        m = _GET_RE.match(query)
        if m:
            key = m.group(1).lower()
            if key.startswith("verdictdb."):
                val = self.conf.get(key)
            else:
                # round-trip with the SET passthrough: read live Spark conf
                val = self.spark.conf.get(m.group(1), None)
            return self.spark.createDataFrame(
                [(m.group(1), val)], schema="key string, value string"
            )
        m = _STREAM_RE.match(query)
        if m:
            # the reference's STREAM surface is the result-plus-accuracy
            # iterator (VerdictResultStream.java:17-42): sql() runs the
            # full refinement and surfaces the <alias>_err columns on
            # the final frame — stream() gives the per-step iterator
            query, early_stop, with_errors = m.group(1), False, True
        ddl = self._ddl(query)
        if ddl is not None:
            return ddl
        cte = inline_ctes(query)
        if cte is not None:
            # single-use CTEs inlined as derived tables so scrambles
            # inside WITH bodies substitute; a refused inline keeps the
            # original text (exact spark.sql handles WITH natively)
            query = cte
        return self._route(query, early_stop=early_stop, with_errors=with_errors)

    def _debug(self) -> bool:
        return self.conf.get("verdictdb.debug", "false").lower() in ("true", "1")

    # ------------------------------------------------------ route table
    def _route(
        self, query: str, stream: bool = False, early_stop: bool = True,
        with_errors: bool = False,
    ):
        """Walk :data:`_ROUTES` for one statement: the first route that
        answers wins — a DataFrame for ``sql()``, a lazy iterator of
        ``ProgressiveResult`` for ``stream()``.  A route passes by
        returning None or raising ``Unsupported``.  When every route
        passes, ``sql()`` runs the statement exactly (the reference's
        pass-through, SelectQueryCoordinator.java:118-171) and
        ``stream()`` raises the first ``Unsupported``: streams have no
        exact fallback.

        A ``ValueError`` or ``AnalysisException`` means the route
        claimed the statement and then failed: the registered scramble
        can't legally answer the shape (e.g. COUNT DISTINCT on a
        uniform scramble), or an expression failed Spark analysis under
        the rewrite.  ``sql()`` then runs exact without trying the next
        route (which would run the same inner again); ``stream()``
        raises.  Any other error (a KeyError in the estimator, a
        missing scramble artifact) is a bug, not a fallback, and
        surfaces.  ``SET verdictdb.debug = true`` re-raises route
        failures, and a SELECT's first ``Unsupported`` instead of its
        exact run — to diagnose why a query fell back."""
        reason = None
        for sql_name, stream_name, errors in _ROUTES:
            if stream and stream_name is None:
                continue
            route = getattr(self, stream_name if stream else sql_name)
            try:
                if stream:
                    out = route(query)
                elif errors:
                    out = route(query, early_stop=early_stop, with_errors=with_errors)
                else:
                    out = route(query, early_stop=early_stop)
            except Unsupported as e:
                reason = reason or e
                continue
            except (ValueError, AnalysisException):
                if stream or self._debug():
                    raise
                return self.spark.sql(query)
            if out is not None:
                return out
        if stream:
            raise reason or Unsupported("no registered scramble for STREAM query")
        if reason and self._debug() and re.match(r"^\s*select\b", query, re.IGNORECASE):
            raise reason
        return self.spark.sql(query)

    # -------------------------------------------------------- aggregate
    def _try_aggregate(
        self, query: str, early_stop: bool = True, with_errors: bool = False
    ) -> DataFrame | None:
        """The progressive rewrite of an aggregate over registered
        scrambles; None when no FROM table has one."""
        plan = self._plan(query, early_stop=early_stop)
        if plan is None:
            return None
        if plan.const_false:
            # WHERE proven constant-false at plan time: the exact run
            # IS the answer (empty groups / NULL aggregates) — one
            # execution, no progressive scan
            return self.spark.sql(query)
        # early_stop=False callers consume only the final frame —
        # one-shot span instead of the refinement ladder (same
        # estimator over the same per-(tier, block) partials)
        return self._execute(
            plan, early_stop=early_stop, with_errors=with_errors,
            final_only=not early_stop,
        )

    def _stream_aggregate(self, query: str):
        plan = self._plan(query)
        return None if plan is None else self._stream_plan(plan)

    # --------------------------------------------- set operations
    def _try_union(
        self, query: str, early_stop: bool, with_errors: bool = False
    ) -> DataFrame | None:
        """UNION ALL of independently-planned SELECT blocks (the
        reference's SetOperationRelation.java:1-60): each side plans
        and executes on its own — approximate where a scramble
        applies, exact otherwise — and the result frames concatenate
        positionally.  UNION ALL is bag concatenation, so per-side
        estimates compose without interaction; UNION DISTINCT /
        EXCEPT / INTERSECT are NOT taken (dedup across approximate
        estimates is ill-defined) — those fall back to exact.  A
        trailing ORDER BY/LIMIT (which scopes to the whole union in
        SQL) is stripped from the last block and applied to the
        concatenated frame.  Mixed numeric column types across sides
        (approximate sides estimate in double, exact sides keep bigint)
        widen to double, matching SQL union type promotion.  A side
        Spark or the engine rejects raises: the route walk then runs
        the whole statement exactly."""
        masked0 = _mask(query)
        if re.search(r"\b(EXCEPT|INTERSECT)\b", masked0, re.IGNORECASE):
            return None
        seps = list(re.finditer(r"\bUNION(\s+ALL)?\b", masked0, re.IGNORECASE))
        if not seps or any(m.group(1) is None for m in seps):
            return None  # a plain UNION breaks left-assoc flattening
        parts, last = [], 0
        for m in seps:
            parts.append(query[last : m.start()].strip())
            last = m.end()
        parts.append(query[last:].strip())
        if any(not re.match(r"^\s*select\b", p, re.IGNORECASE) for p in parts):
            return None  # parenthesized blocks etc.
        # a trailing ORDER BY/LIMIT in the LAST block scopes to the
        # whole union in SQL (a side can carry its own only inside
        # parens, which this path rejects) — strip it here and apply
        # it to the concatenated frame below
        tail_order: str | None = None
        tail_limit: int | None = None
        mo = re.search(r"\b(ORDER\s+BY|LIMIT)\b", _mask(parts[-1]), re.IGNORECASE)
        if mo:
            tail = parts[-1][mo.start() :]
            mt = re.match(
                r"^(?:ORDER\s+BY\s+(?P<ob>[\s\S]+?))?\s*"
                r"(?:\bLIMIT\s+(?P<lim>\d+))?\s*;?\s*$",
                tail,
                re.IGNORECASE,
            )
            if not mt or (mt.group("ob") is None and mt.group("lim") is None):
                return None  # unparseable tail — exact fallback
            parts[-1] = parts[-1][: mo.start()].rstrip()
            tail_order = mt.group("ob")
            tail_limit = int(mt.group("lim")) if mt.group("lim") else None
        for p in parts:
            # ORDER BY/LIMIT on a NON-last side is a Spark parse error
            # — the exact fallback is the honest answer (never
            # fabricate a result for SQL Spark itself would reject)
            if re.search(r"\b(ORDER\s+BY|LIMIT)\b", _mask(p), re.IGNORECASE):
                return None
        # arity gate BEFORE running anything: ask Catalyst (analysis
        # only, no job) what each side's true column count is.
        # Comparing the executed frames would be fooled by
        # with_errors _err columns padding one side — fabricating a
        # result for SQL Spark itself rejects (arity mismatch)
        true_arity = {len(self.spark.sql(p).columns) for p in parts}
        if len(true_arity) != 1:
            return None  # Spark rejects this union — surface exactly
        frames = [
            self.sql(p, early_stop=early_stop, with_errors=with_errors)
            for p in parts
        ]
        base = frames[0]
        ncols = len(base.columns)
        if any(len(f.columns) != ncols for f in frames):
            # _err columns on an approximate side but not on an
            # exact side — exact fallback (errors can't align)
            return None
        integral = {"tinyint", "smallint", "int", "bigint"}
        floating = {"float", "double"}
        casts: list[str | None] = []
        for i in range(ncols):
            ts = {f.dtypes[i][1] for f in frames}
            if len(ts) == 1:
                casts.append(None)
            elif ts <= integral:
                casts.append("bigint")
            elif ts <= integral | floating:
                casts.append("double")
            else:
                # decimal (exact money) mixed with anything: SQL
                # promotion keeps decimal — casting to double here
                # would corrupt values past 2^53, so refuse
                return None
        out = None
        for f in frames:
            f = f.select(
                *[
                    (f[c].cast(casts[i]) if casts[i] else f[c]).alias(base.columns[i])
                    for i, c in enumerate(f.columns)
                ]
            )
            out = f if out is None else out.union(f)
        if tail_order is not None:
            items = []
            for piece in _split_top_level(tail_order):
                m2 = re.search(r"\s+(ASC|DESC)\s*$", piece, re.IGNORECASE)
                desc = bool(m2 and m2.group(1).upper() == "DESC")
                expr = (piece[: m2.start()] if m2 else piece).strip()
                if re.fullmatch(r"\d+", expr):
                    idx = int(expr) - 1
                    if not (0 <= idx < ncols):
                        return None
                    expr = base.columns[idx]
                if expr not in base.columns:
                    # union-scoped ORDER BY may only reference
                    # output columns — anything else, exact fallback
                    return None
                items.append(
                    F.col(expr).desc() if desc else F.col(expr).asc()
                )
            out = out.orderBy(*items)
        if tail_limit is not None:
            out = out.limit(tail_limit)
        return out

    # ----------------------------------------- nested aggregation
    def _try_nested(self, query: str, early_stop: bool) -> DataFrame | None:
        """Aggregations over aggregations, any depth.

        The reference claims speedups for "deeper, complex queries
        (such as aggregations over aggregations)"
        (``docs/docs/documentation/supported_queries.md:17-21``) via
        dependent plan nodes built at arbitrary depth
        (``core/querying/QueryExecutionPlanFactory.java:242-345``).
        Spark-first re-expression: find FROM-clause derived tables
        whose body is itself a rewritable aggregate over a registered
        scramble, run each through the progressive engine, and hand
        the OUTER statement to Catalyst verbatim with each derived
        table replaced by a temp view over the inner's estimate frame.
        The outer runs EXACTLY over frames of already-aggregated size
        (exact outer over approximate inner), at the full Spark SQL
        surface — window functions, DISTINCT, expressions the front
        door itself would reject are all fine in the outer.  Recurses
        so the innermost rewritable block of a depth-3+ query is still
        substituted.  Nested results carry no ``_err`` columns: the
        outer aggregate over estimated inputs has no closed-form
        error here (the reference's dependent nodes likewise surface
        only the final point estimate).  Returns None when nothing is
        substitutable."""
        found = _derived_tables(query)
        if found is None:
            return None
        cl, spans = found
        frames = []
        for s, e, inner in spans:
            try:
                plan = self._plan(inner, early_stop=early_stop)
            except (Unsupported, AnalysisException):
                plan = None
            if plan is None:
                # depth-3+: the derived table's own FROM may hold the
                # rewritable block
                df = self._try_nested(inner, early_stop=early_stop)
            elif plan.const_false:
                df = None
            else:
                # without early stop only the final estimate is
                # consumed — one-shot inner run
                df = self._execute(
                    plan, early_stop=early_stop, with_errors=False,
                    final_only=not early_stop,
                )
            if df is not None:
                frames.append((s, e, df))
        return self._splice(cl, frames) if frames else None

    def _stream_nested(self, query: str):
        """stream()'s nested route: the inner aggregate refines step by
        step and the exact OUTER re-evaluates over each snapshot — the
        reference's progressive display extended to its dependent-plan
        query class.  Applies to a single FROM derived table that plans
        over a scramble; the inner is planned once and streamed through
        :meth:`_stream_plan`."""
        found = _derived_tables(query)
        if found is None or len(found[1]) != 1:
            return None
        cl, [(s, e, inner)] = found
        try:
            plan = self._plan(inner)
        except (Unsupported, AnalysisException):
            return None
        if plan is None or plan.const_false:
            return None

        def steps():
            for res in self._stream_plan(plan):
                sdf = res.estimates_sdf
                if sdf is None:
                    sdf = self.spark.createDataFrame(res.estimates)
                # drop the per-step error columns: the exact outer never
                # sees them in sql()'s nested path either, and a
                # star-expanding outer must match the exact schema
                sdf = sdf.select(*[c for c in sdf.columns if not c.endswith("_err")])
                step = ProgressiveResult.__new__(ProgressiveResult)
                step.__dict__.update(res.__dict__)
                step.estimates_sdf = self._splice(cl, [(s, e, sdf)])
                step._pdf = None
                yield step

        return steps()

    def _splice(self, cl: dict, frames: list) -> DataFrame:
        """Run a SELECT's OUTER statement exactly, each FROM derived
        table ``(start, end, frame)`` replaced by a temp view over its
        frame — the one FROM splice of the nested route, for sql() and
        every stream() step."""
        from_text = cl["FROM"]
        views: list[str] = []
        pieces: list[str] = []
        last = 0
        try:
            for s, e, df in frames:
                # a fresh name per view: under Spark Connect's lazy
                # analysis a re-registered name would make every earlier
                # stream step resolve to the latest snapshot
                name = f"_vdb_nested_{uuid.uuid4().hex[:12]}"
                df.createOrReplaceTempView(name)
                views.append(name)
                pieces += [from_text[last:s], name]
                last = e + 1
            out = self.spark.sql(_reassemble(cl, "".join(pieces) + from_text[last:]))
            # force analysis NOW: classic spark.sql analyzes eagerly
            # anyway, but Spark Connect defers — without this probe a
            # Catalyst-rejected outer would surface at the caller's
            # .collect() instead of taking the exact fallback here
            _ = out.columns
            return out
        finally:
            if hasattr(self.spark, "_jsparkSession"):
                # classic: the analyzed frame holds its resolved plan
                for v in views:
                    self.spark.catalog.dropTempView(v)
            # Spark Connect analyzes lazily: dropping now would break
            # the caller's later .collect() — leave the uuid-named
            # views registered (metadata only; no data pinned)

    # ------------------------------------------------------- percentile
    def _percentile_source(self, query: str):
        """The percentile route's one setup, for sql() and stream():
        ``SELECT [g,] percentile(x, p) ... FROM t [WHERE] [GROUP BY g]
        [ORDER BY] [LIMIT]`` over a table with a registered scramble —
        the reference's declared percentile surface
        (supported_queries.md "percentile(col1, p) — p should be within
        0.01 and 0.99").  None for any other statement, and for a table
        without a scramble: Spark answers percentile()/median()
        natively and exactly there, and a KLL sketch would trade
        accuracy with no sampling speedup to justify it.

        Otherwise ``(parsed, filtered scramble, meta, k, steps)``.
        ``steps`` iterates the progressive sketch
        (``operators.quantile.progressive_quantiles``: per-block-span
        KLL partials merged into the accumulated per-group states,
        group aliases applied) when the scramble is UNIFORM and there
        is one input expression (one sketch per step); else None."""
        from .sqlparse import parse_percentile_select

        p = parse_percentile_select(query)
        if p is None or self.metastore.lookup(p.table, kind="scramble") is None:
            return None
        df, meta = self.load_scramble_for(p.table)
        if p.where:
            df = df.where(F.expr(p.where))
        k = int(self.conf.get("verdictdb.percentile_k", "4096"))
        cols = {c for _, c, _ in p.items}
        if meta.method != "uniform" or len(cols) != 1:
            return p, df, meta, k, None
        (col,) = cols

        def steps():
            from .operators.quantile import progressive_quantiles

            renames = {s: n for s, n in p.group_out if n != s}
            for res in progressive_quantiles(
                df, meta, F.expr(col).cast("double"),
                [pr for _, _, pr in p.items], group_by=p.group_cols,
                names=[n for n, _, _ in p.items], k=k,
            ):
                yield res.renamed(renames)

        return p, df, meta, k, steps()

    def _try_percentile(
        self, query: str, early_stop: bool = True
    ) -> DataFrame | None:
        """sql()'s percentile route: mergeable KLL sketches (map-side
        partials + log-tree merge, rank-error ~O(1/k)), not the
        progressive sum/count machinery — quantiles are not
        H-T-scalable sums.  With ``early_stop=True`` over a multi-block
        uniform scramble (one input expression) the sketch builds
        progressively and stops when consecutive quantile frames agree
        within the configured thresholds (the ``converged`` rule of the
        sum/count engine) — the sampling speedup the engine exists
        for; otherwise one full sketch pass per distinct input
        expression."""
        src = self._percentile_source(query)
        if src is None:
            return None
        p, df, meta, k, steps = src
        renames = {s: n for s, n in p.group_out if n != s}
        keys = [renames.get(g, g) for g in p.group_cols]
        if early_stop and steps is not None and meta.nblocks > 1:
            from .sampling.progressive import converged

            kw = self._exec_kwargs()
            names = [n for n, _, _ in p.items]
            prev = None
            for res in steps:
                cur = res.estimates  # O(groups) rows
                # progressive_quantiles yields even when the accumulated
                # sketch frame is still empty (unlike progressive_agg's
                # have_rows skip): an empty or all-NaN frame must not arm
                # the stop rule — two such frames "agree" vacuously, and a
                # selective WHERE whose matches live in later blocks would
                # return an empty/NULL result despite matching rows
                if not len(cur) or cur[names].isna().all().all():
                    continue
                if prev is not None and converged(
                    prev, cur, keys, names,
                    kw["value_threshold"], kw["group_threshold"],
                ):
                    break
                prev = cur
            pieces = [res.estimates_sdf]
        else:
            from .operators.quantile import approx_quantiles_wide

            # one sketch pass per distinct input expression
            by_col: dict[str, list[tuple[str, float]]] = {}
            for name, col, prob in p.items:
                by_col.setdefault(col, []).append((name, prob))
            pieces = [
                approx_quantiles_wide(
                    df,
                    F.expr(col).cast("double"),
                    [pr for _, pr in pairs],
                    group_by=p.group_cols,
                    names=[n for n, _ in pairs],
                    method="kll",
                    k=k,
                ).withColumnsRenamed(renames)
                for col, pairs in by_col.items()
            ]
        if keys:
            # the tiny per-expression frames join on the group keys.
            # FULL outer: a group whose values are all NULL for one
            # percentile column has no sketch row for that piece — SQL
            # keeps the group with a NULL percentile, so an inner join
            # would wrongly drop it
            out = pieces[0]
            for piece in pieces[1:]:
                out = out.join(piece, on=keys, how="full")
        else:
            # an ungrouped aggregate query always returns ONE row, but a
            # sketch over zero non-null values returns none: left-join
            # every piece onto one literal row, so a 0-row piece gives
            # NULLs (lazily — the sketch scan is not run twice just to
            # probe emptiness)
            out = self.spark.range(1).select(F.lit(1).alias("_vdb_one"))
            for piece in pieces:
                out = out.join(
                    piece.withColumn("_vdb_one", F.lit(1)), "_vdb_one", "left"
                )
            out = out.drop("_vdb_one")
        if p.order_by:
            out = out.orderBy(
                *[
                    F.col(o.expr).desc() if o.desc else F.col(o.expr).asc()
                    for o in p.order_by
                ]
            )
        out = out.select(*p.select_order)
        if p.limit is not None:
            out = out.limit(p.limit)
        _ = out.columns  # force analysis (Spark Connect defers)
        return out

    def _stream_percentile(self, query: str):
        """stream()'s percentile route: the progressive steps of
        :meth:`_percentile_source`.  ORDER BY/LIMIT are final-result
        decorations and are not applied per step, matching stream()'s
        contract for aggregates."""
        src = self._percentile_source(query)
        return None if src is None else src[-1]

    # ------------------------------------------------------------- DDL
    def _ddl(self, query: str) -> DataFrame | None:
        """Scramble DDL dispatch (VerdictSQLParser.g4:69-102).  Returns
        a status/result DataFrame, or None when the statement is not
        scramble DDL."""
        spark = self.spark
        m = _SHOW_RE.match(query)
        if m:
            # FOR <db|table> filters the listing (a discarded qualifier
            # would return every scramble — silently wrong); identifiers
            # compare case-insensitively, like the statement keywords
            qual = (m.group("qual") or "").lower()
            rows = []
            for e in self.metastore.show("scramble"):
                src = e.source_table.lower()
                if qual and not (src == qual or src.startswith(qual + ".")):
                    continue
                try:
                    meta = ScrambleMeta.from_json(e.meta_json)
                    method, nblocks = meta.method, meta.nblocks
                except Exception:
                    method, nblocks = "?", -1
                rows.append(
                    (
                        e.source_table,
                        os.path.basename(e.artifact_path),
                        method,
                        nblocks,
                        float(e.added_at),
                    )
                )
            return spark.createDataFrame(
                rows,
                schema="original_table string, scramble string, method string, "
                "nblocks int, added_at double",
            )

        m = _CREATE_RE.match(query)
        if m:
            opts = _parse_create_options(m.group("rest"))
            name = re.sub(r"[^\w]", "_", m.group("name"))
            orig = m.group("orig")
            path = os.path.join(self.root, name)
            exists = os.path.exists(os.path.join(path, "_verdictdb_meta.json"))
            if exists and not m.group("ine"):
                raise ValueError(
                    f"scramble {m.group('name')!r} already exists "
                    "(use CREATE SCRAMBLE IF NOT EXISTS)"
                )
            if not exists:
                df = spark.table(orig)
                if "where" in opts:
                    df = df.where(F.expr(opts["where"]))
                self._build_and_register(
                    path, orig, df,
                    method=opts.get("method", "uniform"),
                    column=opts.get("column"),
                    size=opts.get("size", 1.0),
                    block_size=opts.get("block_size", DEFAULT_BLOCK_SIZE),
                )
            return spark.createDataFrame(
                [(name, orig, "exists" if exists else "created")],
                schema="scramble string, original_table string, status string",
            )

        m = _DESCRIBE_SCRAMBLE_RE.match(query)
        if m:
            name = re.sub(r"[^\w]", "_", m.group("name"))
            entry = next(
                (
                    e
                    for e in self.metastore.show("scramble")
                    if os.path.basename(e.artifact_path) == name
                    or e.source_table == m.group("name")
                ),
                None,
            )
            if entry is None:
                raise KeyError(f"no scramble named {m.group('name')!r}")
            meta = ScrambleMeta.from_json(entry.meta_json)
            raw = [
                ("scramble", os.path.basename(entry.artifact_path)),
                ("original_table", entry.source_table),
                ("method", meta.method),
                ("nblocks", meta.nblocks),
                ("seed", meta.seed),
                ("original_count", meta.original_count),
                ("hash_column", getattr(meta, "hash_column", None)),
                ("path", entry.artifact_path),
            ]
            rows = [(k, str(v)) for k, v in raw if v is not None]
            if meta.method == "fastconverge" and meta.fc_stats:
                st = meta.fc_stats
                rows += [
                    ("outlier_column", str(st.get("outlier_column"))),
                    ("group_column", str(st.get("group_column"))),
                    ("outlier_mu", str(st.get("mu"))),
                    ("outlier_sd", str(st.get("sd"))),
                    (
                        "n_large_groups",
                        str(len(st.get("large_groups") or [])),
                    ),
                ]
            return spark.createDataFrame(
                rows, schema="property string, value string"
            )

        m = _CREATE_SAMPLE_RE.match(query)
        if m:
            # legacy docs surface: CREATE [XX%] {UNIFORM|STRATIFIED|
            # UNIVERSE} SAMPLE OF t [ON col] (supported_queries.md).
            # uniform -> uniform scramble sized XX% (1% docs default);
            # universe -> hash scramble on the column (full-size: a
            # hash scramble IS the universe-sample family, prefixes
            # select hash ranges); stratified -> fastconverge with
            # group protection on the column (numeric column also gets
            # the outlier tier; coverage-oriented, so XX% is ignored)
            kind = (m.group("kind") or "uniform").lower()
            orig, col = m.group("orig"), m.group("col")
            pct = float(m.group("pct")) if m.group("pct") else 1.0
            name = re.sub(r"[^\w]", "_", f"{orig}_{kind}_sample")
            path = os.path.join(self.root, name)
            if os.path.exists(os.path.join(path, "_verdictdb_meta.json")):
                raise ValueError(
                    f"sample {name!r} already exists (DROP SAMPLES OF "
                    f"{orig} first)"
                )
            df = spark.table(orig)
            if kind == "uniform":
                if col is not None:
                    raise ValueError("UNIFORM SAMPLE takes no ON column")
                self._build_and_register(
                    path, orig, df, method="uniform", size=pct / 100.0
                )
            elif kind == "universe":
                if col is None:
                    raise ValueError("UNIVERSE SAMPLE needs ON <column>")
                self._build_and_register(
                    path, orig, df, method="hash", column=col
                )
            else:  # stratified
                if col is None:
                    raise ValueError("STRATIFIED SAMPLE needs ON <column>")
                numeric = any(
                    f.name == col
                    and f.dataType.typeName()
                    in (
                        "byte", "short", "integer", "long",
                        "float", "double", "decimal",
                    )
                    for f in df.schema.fields
                )
                self._build_and_register(
                    path, orig, df, method="fastconverge",
                    column=col if numeric else None, group_column=col,
                )
            return spark.createDataFrame(
                [(name, orig, kind, "created")],
                schema="scramble string, original_table string, "
                "method string, status string",
            )

        m = _DROP_SAMPLES_RE.match(query) or _DROP_ALL_RE.match(query)
        if m:
            dropped = 0
            for e in self.metastore.show("scramble"):
                if e.source_table == m.group("orig"):
                    self._drop_entry(e)
                    dropped += 1
            return spark.createDataFrame(
                [(m.group("orig"), dropped)],
                schema="original_table string, dropped int",
            )

        m = _DROP_RE.match(query)
        if m:
            name = re.sub(r"[^\w]", "_", m.group("name"))
            orig = m.group("orig")
            dropped = 0
            for e in self.metastore.show("scramble"):
                if os.path.basename(e.artifact_path) == name and (
                    orig is None or e.source_table == orig
                ):
                    self._drop_entry(e)
                    dropped += 1
            return spark.createDataFrame(
                [(name, dropped)], schema="scramble string, dropped int"
            )

        m = _APPEND_RE.match(query)
        if m:
            name = re.sub(r"[^\w]", "_", m.group("name"))
            entry = next(
                (
                    e
                    for e in self.metastore.show("scramble")
                    if os.path.basename(e.artifact_path) == name
                ),
                None,
            )
            if entry is None:
                raise KeyError(f"no scramble named {m.group('name')!r}")
            meta = ScrambleMeta.from_json(entry.meta_json)
            new_rows = self.spark.table(entry.source_table)
            if m.group("where") is not None:
                # predicate optional, matching the reference's
                # CreateScrambleQuery (no-WHERE = append everything)
                new_rows = new_rows.where(F.expr(m.group("where")))
            # statistically compatible by construction (stored CDFs +
            # deterministic hashes); physically an append of new
            # block-partition files.  Repartition on the block column
            # (as write_scramble does) so the append adds one file per
            # touched block, not tasks x blocks small files; persist so
            # the count and the write share one evaluation.
            assigned = (
                append_scramble(new_rows, meta)
                .repartition(meta.nblocks, F.col(BLOCK_COL))
                .persist()
            )
            n = assigned.count()
            assigned.write.mode("append").partitionBy(BLOCK_COL).parquet(
                entry.artifact_path
            )
            assigned.unpersist()
            # a cached load_scramble handle would not see the new files
            from .sampling.scramble import invalidate_scramble_cache

            invalidate_scramble_cache(entry.artifact_path)
            return spark.createDataFrame(
                [(name, n)], schema="scramble string, appended_rows long"
            )

        if re.match(
            r"^\s*(?:CREATE|DROP|APPEND|INSERT)\s+(?:ALL\s+)?SCRAMBLES?\b"
            r"|^\s*(?:CREATE|DROP|DELETE)\s+(?:\d+(?:\.\d+)?%\s+)?"
            r"(?:(?:UNIFORM|STRATIFIED|UNIVERSE)\s+)?SAMPLES?\s+(?:OF|FOR)\b",
            query, re.IGNORECASE,
        ):
            # scramble-DDL prefix but no statement form matched: raise a
            # DDL-layer error instead of handing Spark a statement it
            # cannot parse (the documented contract)
            raise ValueError(
                f"malformed scramble DDL {query.strip()[:80]!r} — expected "
                "CREATE SCRAMBLE [IF NOT EXISTS] <name> FROM <table> "
                "[WHERE ...] [METHOD m] [HASHCOLUMN|ON col] [SIZE p] "
                "[BLOCKSIZE n] | APPEND SCRAMBLE <name> [WHERE <cond>] | "
                "DROP SCRAMBLE <name> [ON <table>] | DROP ALL SCRAMBLES "
                "<table> | SHOW SCRAMBLES"
            )
        return None

    def _drop_entry(self, entry) -> None:
        """DROP SCRAMBLE drops the scramble TABLE (reference semantics):
        registry entry AND the persisted artifact, so the name can be
        re-created."""
        import shutil

        from .sampling.scramble import invalidate_scramble_cache

        self.metastore.drop(entry.artifact_path)
        shutil.rmtree(entry.artifact_path, ignore_errors=True)
        invalidate_scramble_cache(entry.artifact_path)

    def _build_and_register(
        self,
        path: str,
        source_table: str,
        df: DataFrame,
        method: str = "uniform",
        column: str | None = None,
        nblocks: int | None = None,
        size: float = 1.0,
        seed: int = 42,
        block_size: int = DEFAULT_BLOCK_SIZE,
        nrows: int | None = None,
        **kwargs,
    ) -> None:
        """The single build + persist + register sequence behind both
        the ``create_scramble`` API and the CREATE SCRAMBLE DDL."""
        if method == "fastconverge":
            if not column and not kwargs.get("group_column"):
                raise ValueError(
                    "METHOD fastconverge needs an outlier column "
                    "(HASHCOLUMN/ON <col> in DDL, column= in the API) "
                    "or a group_column for group-only stratification"
                )
            sdf, meta = create_fastconverge_scramble(
                df, outlier_column=column or None, nblocks=nblocks, seed=seed,
                block_size=block_size, **kwargs,
            )
        else:
            sdf, meta = create_scramble(
                df, method=method, column=column, nblocks=nblocks,
                size=size, seed=seed, nrows=nrows, block_size=block_size,
            )
        write_scramble(sdf, meta, path)
        self.metastore.register("scramble", source_table, path, meta.to_json())

    # -------------------------------------------------------- planning
    def _plan(self, query: str, early_stop: bool = True) -> _Plan | None:
        p = parse_select(query)
        n = len(p.tables)
        scramble_at: dict[int, tuple[DataFrame, ScrambleMeta]] = {}
        dim_at: dict[int, DataFrame] = {}
        subq_at: dict[int, tuple] = {}
        # pass 1: CLASSIFY tables without executing anything — an
        # opaque derived table's plan-time execution is only worth
        # paying when it will serve as a dimension beside a scramble.
        # Before this split, a statement whose ONLY table was a
        # rewritable derived table (the nested/CTE shape) executed its
        # inner here, hit the no-scramble bail-out below, and then
        # _try_nested executed the same inner a SECOND time.
        pending_opaque: list[int] = []
        for i, t in enumerate(p.tables):
            if t.subquery is not None:
                if t.name and self.metastore.lookup(t.name, kind="scramble") is not None:
                    # row-local derived table over a scrambled base —
                    # the inner filter/projection is planned into the
                    # per-block transform (the reference lifts FROM
                    # subqueries into dependent plan nodes,
                    # QueryExecutionPlanFactory.java:242-345); the
                    # parser already stashed the parsed inner block
                    scramble_at[i] = self.load_scramble_for(t.name)
                    _, items, inner_where = t.inner
                    subq_at[i] = (items, inner_where)
                else:
                    pending_opaque.append(i)
            elif self.metastore.lookup(t.name, kind="scramble") is not None:
                scramble_at[i] = self.load_scramble_for(t.name)
            else:
                try:
                    dim_at[i] = self.spark.table(t.name)
                except AnalysisException:
                    raise Unsupported(f"unresolvable table {t.name!r}")
        if not scramble_at:
            return None  # nothing to substitute — plain exact SQL
        # pass 2: resolve the opaque derived tables.  If a body is
        # itself a rewritable aggregate over a registered scramble,
        # substitute its progressive ESTIMATE frame as the dimension
        # (the reference's dependent nodes approximate both sides,
        # QueryExecutionPlanFactory.java:242-345; estimates from
        # independent scrambles stay unbiased under the join product).
        # The run happens at plan time — a later Unsupported in this
        # method wastes it (correctly: exact fallback), same hazard as
        # the reference's sequential dependent execution.  Otherwise
        # execute the inner text exactly — plain dimensions are exact
        # by definition.
        for i in pending_opaque:
            t = p.tables[i]
            sub_df = None
            try:
                sub_plan = self._plan(t.subquery, early_stop=early_stop)
            except (Unsupported, AnalysisException):
                sub_plan = None
            if sub_plan is not None and not sub_plan.const_false:
                try:
                    sub_df = self._execute(
                        sub_plan, early_stop=early_stop,
                        with_errors=False,
                        final_only=not early_stop,
                    )
                except (ValueError, AnalysisException):
                    sub_df = None
            if sub_df is not None:
                # the estimate frame becomes a broadcast dim in the
                # per-block transform: EVERY outer refinement step
                # (and the _err pass) would otherwise recompute the
                # whole inner — materialize once, O(inner groups) rows
                dim_at[i] = sub_df.localCheckpoint(eager=True)
            else:
                try:
                    dim_at[i] = self.spark.sql(t.subquery)
                except AnalysisException:
                    raise Unsupported(
                        f"unresolvable derived table {t.alias!r}"
                    )
        if subq_at and (len(scramble_at) > 1 or len(subq_at) > 1):
            raise Unsupported("derived table over a scramble in a scramble join")
        for name, expr in p.composites:
            # reject unparseable residuals (window-over-agg, stray
            # syntax) BEFORE the progressive run — discovering the
            # failure in _execute would waste the whole scan and
            # re-run exact anyway.  F.expr defers parsing in PySpark 4,
            # so ask Catalyst's parser directly (parse-only, no
            # analysis); if the private hook is unavailable (Connect),
            # skip — the _execute catch still guarantees correctness.
            try:
                parse = self.spark._jsparkSession.sessionState().sqlParser()
            except AttributeError:
                break
            try:
                parse.parseExpression(expr)
            except Exception:
                raise Unsupported(f"unparseable composite select item {name!r}")

        # join-type constraints: LEFT is rewritable only when the
        # null-producing (attached, right) side is an unscrambled
        # dimension — the probe rows' inclusion probabilities are
        # unchanged by null-extension.  Outer semantics are order-
        # sensitive, so the plan must then apply joins in FROM order,
        # which is guaranteed below only for the single-scramble-first
        # shape.
        how_at = {i + 1: j.how for i, j in enumerate(p.joins)}
        has_outer = any(h != "inner" for h in how_at.values())
        if has_outer:
            for ti, h in how_at.items():
                if h != "inner" and ti in scramble_at:
                    raise Unsupported(
                        "scramble on the null-producing side of an outer join"
                    )
            if len(scramble_at) != 1 or 0 not in scramble_at:
                raise Unsupported(
                    "outer join requires the single scramble first in FROM"
                )

        # column ownership (internal scramble columns excluded)
        owner: dict[str, int] = {}
        ambiguous: set[str] = set()
        cols_of: dict[int, set[str]] = {}
        for i in range(n):
            if i in subq_at and subq_at[i][0] is not None:
                cols = {a for _, a in subq_at[i][0]}
            else:
                df = scramble_at[i][0] if i in scramble_at else dim_at[i]
                cols = {c for c in df.columns if c not in (TIER_COL, BLOCK_COL)}
            cols_of[i] = cols
            for c in cols:
                if c in owner:
                    ambiguous.add(c)
                else:
                    owner[c] = i

        def own(col: str) -> int:
            c = col.split(".")[-1]
            if c in ambiguous:
                raise Unsupported(f"ambiguous column {c!r}")
            if c not in owner:
                raise Unsupported(f"unknown column {c!r}")
            return owner[c]

        # join graph: edges[(i, j)] with i < j -> [(col_i, col_j), ...]
        edges: dict[tuple[int, int], list[tuple[str, str]]] = {}
        for j in p.joins:
            for l, r in j.pairs:
                li, ri = own(l), own(r)
                if li == ri:
                    raise Unsupported(f"self-referential join pair {l}={r}")
                key = (li, ri) if li < ri else (ri, li)
                pair = (l, r) if li < ri else (r, l)
                edges.setdefault(key, []).append(pair)

        def pairs_between(a: int, b: int) -> list[tuple[str, str]]:
            """Oriented (col_of_a, col_of_b) equi pairs."""
            if a < b:
                return list(edges.get((a, b), []))
            return [(y, x) for x, y in edges.get((b, a), [])]

        # order the scrambles into a chain (FROM order, connectivity to
        # any earlier chain member — progressive_multi_join_agg joins
        # side j against the ACCUMULATED frame, so that is sufficient)
        scr_order: list[int] = []
        scramble_on: list[list[tuple[str, str]]] = []
        remaining = list(scramble_at)
        scr_order.append(remaining.pop(0))
        while remaining:
            for idx, cand in enumerate(remaining):
                link = [pr for s in scr_order for pr in pairs_between(s, cand)]
                if link:
                    scr_order.append(remaining.pop(idx))
                    scramble_on.append(link)
                    break
            else:
                raise Unsupported(
                    "scrambled tables are not directly joined to each other "
                    "(connected only through an unscrambled table)"
                )

        # dimensions attach after the scramble chain, each linked to the
        # already-covered set; column-name collisions across the final
        # join would make F.expr references ambiguous
        covered = set(scr_order)
        covered_cols = set().union(*(cols_of[i] for i in scr_order)) if scr_order else set()
        dim_joins: list[tuple[DataFrame, list[tuple[str, str]], str]] = []
        remaining_dims = [i for i in range(n) if i not in scramble_at]
        while remaining_dims:
            for idx, cand in enumerate(remaining_dims):
                link = [pr for c in covered for pr in pairs_between(c, cand)]
                if link:
                    if has_outer and idx != 0:
                        # outer joins don't commute with reordering —
                        # dimensions must attach exactly in FROM order
                        raise Unsupported(
                            "outer join with out-of-order dimension attachment"
                        )
                    if cols_of[cand] & covered_cols:
                        raise Unsupported(
                            f"duplicate column names across joined tables: "
                            f"{sorted(cols_of[cand] & covered_cols)[:3]}"
                        )
                    dim_joins.append(
                        (dim_at[cand], link, how_at.get(cand, "inner"))
                    )
                    covered.add(cand)
                    covered_cols |= cols_of[cand]
                    remaining_dims.pop(idx)
                    break
            else:
                raise Unsupported("disconnected table in FROM (cross join shape)")

        # aggregates: bare columns pass through; expressions become
        # derived columns computed in the per-block transform
        derived: list[tuple[str, str]] = []
        aggs: list[AggSpec] = []
        for k, a in enumerate(p.agg_items):
            if a.expr is None:
                aggs.append(AggSpec("count", None, a.alias))
            elif re.fullmatch(r"\w+", a.expr) and a.expr.split(".")[-1] in owner:
                aggs.append(AggSpec(a.op, a.expr, a.alias))
            else:
                name = f"_vdb_a{k}"
                derived.append((name, a.expr))
                aggs.append(AggSpec(a.op, name, a.alias))

        group_cols: list[str] = []
        group_renames: dict[str, str] = {}
        for gi in p.group_items:
            if re.fullmatch(r"\w+", gi.expr) and gi.expr in owner:
                group_cols.append(gi.expr)
                if gi.alias != gi.expr:
                    group_renames[gi.expr] = gi.alias
            else:
                derived.append((gi.alias, gi.expr))
                group_cols.append(gi.alias)

        # WHERE subqueries — resolved LAST so nothing else in this
        # method can raise Unsupported after an inner was executed and
        # persisted (that would leak the cache entry).  Each inner runs
        # exactly (dimensions are exact by definition; the semi/anti
        # filter is row-local, so per-row inclusion probabilities carry
        # through).  Correlated subqueries fail inner resolution and
        # fall back to exact — SQL scoping resolves inner-first, so a
        # name that DOES resolve inside the subquery means the query
        # was never correlated on it.
        where_subqs: list[tuple] = []
        const_false = False
        try:
            for k, wq in enumerate(p.where_subqs):
                try:
                    inner_df = self.spark.sql(wq.inner)
                except AnalysisException:
                    raise Unsupported(
                        f"unresolvable (or correlated) WHERE subquery #{k}"
                    )
                if wq.kind == "scalar":
                    # expr COMP (SELECT ...): the inner is exact by
                    # contract (supported_queries.md:278-279 — it runs
                    # on the ORIGINAL tables) and must be 1x1; its
                    # value becomes a constant filter in the transform
                    if len(inner_df.columns) != 1:
                        raise Unsupported(
                            "scalar subquery must produce exactly one column"
                        )
                    rows = inner_df.limit(2).collect()
                    if len(rows) > 1:
                        raise Unsupported(
                            "scalar subquery returned more than one row"
                        )
                    value = rows[0][0] if rows else None
                    if value is None:
                        # comparison with NULL is never TRUE: WHERE is
                        # constant-false (matches exact SQL semantics)
                        const_false = True
                        break
                    where_subqs.append(("scalar", wq.lhs, None, (wq.comp, value)))
                elif wq.kind in ("in", "not_in"):
                    if len(inner_df.columns) != 1:
                        raise Unsupported(
                            "IN subquery must produce exactly one column"
                        )
                    key = f"_vdb_inq{k}"
                    # persist: the per-block transform re-joins this
                    # frame once per refinement step — without it the
                    # inner re-executes per step.  _Plan.release()
                    # unpersists when the run finishes (at cluster
                    # scale swap for a reliable checkpoint)
                    inner_df = inner_df.select(
                        F.col(inner_df.columns[0]).alias(key)
                    ).persist()
                    if wq.kind == "not_in":
                        # SQL NOT IN three-valued logic needs the
                        # inner's row/non-null counts (a NULL in the
                        # inner set disqualifies every probe row)
                        row = inner_df.agg(
                            F.count(F.lit(1)).alias("n"), F.count(key).alias("nn")
                        ).first()
                        n_rows, n_nonnull = int(row["n"]), int(row["nn"])
                        if n_rows == 0:
                            inner_df.unpersist()
                            continue  # NOT IN over empty set: keep all
                        if n_nonnull < n_rows:
                            # WHERE proven constant-false: flag it so
                            # sql() answers exactly ONCE and stream()
                            # yields nothing — no progressive scan
                            inner_df.unpersist()
                            const_false = True
                            break
                        where_subqs.append(("not_in", wq.lhs, inner_df, key))
                    else:
                        where_subqs.append(("in", wq.lhs, inner_df, key))
                else:
                    nonempty = not inner_df.isEmpty()
                    if (wq.kind == "exists") != nonempty:
                        # statically false EXISTS/NOT EXISTS — as above
                        const_false = True
                        break
                    # statically true: no filter needed at all
        except BaseException:
            for _, _, df_, _ in where_subqs:
                if df_ is not None:
                    df_.unpersist()
            raise
        if const_false:
            # a LATER subquery proved the WHERE constant-false: the
            # earlier conjuncts' persisted inners will never be joined
            # (sql()/stream() short-circuit before _execute, so
            # plan.release() is never reached) — drop them NOW or they
            # stay in the Spark cache for the context's lifetime
            for _, _, df_, _ in where_subqs:
                if df_ is not None:
                    df_.unpersist()
            where_subqs = []

        return _Plan(
            parsed=p,
            scrambles=[scramble_at[i] for i in scr_order],
            scramble_on=scramble_on,
            dim_joins=dim_joins,
            aggs=aggs,
            group_cols=group_cols,
            group_renames=group_renames,
            derived=derived,
            scramble_subq=subq_at.get(scr_order[0]),
            where_subqs=where_subqs,
            const_false=const_false,
        )

    def _exec_kwargs(self) -> dict:
        return {
            "value_threshold": float(self.conf.get("verdictdb.value_threshold", 0.02)),
            "group_threshold": float(self.conf.get("verdictdb.group_threshold", 0.05)),
            "engine": self.conf.get("verdictdb.engine", "auto"),
            "engine_threshold": int(
                float(self.conf.get("verdictdb.engine_threshold", 200_000))
            ),
        }

    def stream(self, query: str):
        """Progressive iterator for a rewritable SELECT (the grammar's
        ``STREAM select_statement``): yields one ``ProgressiveResult``
        per refinement step, from the first route of :data:`_ROUTES`
        with a stream form (aggregate, percentile, nested).  Lazy:
        nothing is planned before the first step is asked for.  Raises
        ``Unsupported`` for non-rewritable statements (streams have no
        exact fallback)."""
        q = _STREAM_RE.match(query)
        if q:
            query = q.group(1)
        cte = inline_ctes(query)
        if cte is not None:
            query = cte
        yield from self._route(query, stream=True)

    def _stream_plan(self, plan: _Plan):
        """stream()'s per-plan body: one step per refinement with the
        plan's aliases in ``estimates`` — including composite select
        items (``sum(a)/sum(b) AS r``), evaluated per step.  HAVING /
        ORDER BY / LIMIT are final-result decorations and are not
        applied per step.  A constant-false WHERE legitimately refines
        nothing: no steps (no estimates from zero rows)."""
        composites = plan.parsed.composites
        hidden = [a.alias for a in plan.parsed.agg_items if a.hidden]
        try:
            if plan.const_false:
                return
            for res in self._progression(plan):
                res = res.renamed(plan.group_renames)
                if composites:
                    res = self._apply_composites(res, composites, hidden)
                yield res
        finally:
            plan.release()

    def _apply_composites(self, res, composites, drop: list[str]):
        """Evaluate composite residuals on a progressive snapshot and
        drop the hidden partial columns — the per-step estimate then
        carries exactly the select-list aliases.  Spark-engine frames
        stay DataFrames.  Driver frames evaluate arithmetic residuals
        in pandas directly (``DataFrame.eval``) — a per-step Spark
        round trip just to divide two columns would add a job per
        refinement; only residuals pandas can't evaluate (SQL-only
        functions) fall back to the one-off Spark expression."""
        from .sampling.progressive import ProgressiveResult

        out = ProgressiveResult.__new__(ProgressiveResult)
        out.__dict__.update(res.__dict__)
        if res.estimates_sdf is not None:
            sdf = res.estimates_sdf
            for name, expr in composites:
                sdf = sdf.withColumn(name, F.expr(expr))
            out.estimates_sdf = sdf.select(
                *[c for c in sdf.columns
                  if not any(c == h or c == f"{h}_err" for h in drop)]
            )
            out._pdf = None
            return out
        pdf = res.estimates.copy()
        try:
            import numpy as np
            import pandas as pd

            for name, expr in composites:
                if "%" in expr:
                    # pandas % uses Python sign semantics (-7 % 3 == 2),
                    # Spark uses C semantics (-1) — not equivalent
                    raise ValueError("modulo needs SQL semantics")
                # x/0 is inf in pandas but NULL in Spark SQL
                pdf[name] = pd.Series(pdf.eval(expr)).replace(
                    [np.inf, -np.inf], np.nan
                )
        except Exception:
            sdf = self.spark.createDataFrame(res.estimates)
            for name, expr in composites:
                sdf = sdf.withColumn(name, F.expr(expr))
            pdf = sdf.toPandas()
        out.estimates_sdf = None
        out._pdf = pdf[
            [c for c in pdf.columns
             if not any(c == h or c == f"{h}_err" for h in drop)]
        ]
        return out

    # ------------------------------------------------------- execution
    def _progression(self, plan: _Plan, final_only: bool = False):
        """The single 1/2/N-scramble progressive dispatch shared by
        ``stream()`` and ``_execute``.

        ``final_only=True``: the caller consumes just the FINAL
        estimate — any ``early_stop=False`` execution whose consumer
        never sees the intermediate steps (the top-level ``sql()``
        path and plan-time nested / derived-table inners).  Runs ONE
        full-prefix span (full block plane / hypercube for scramble
        joins) instead of the refinement ladder:
        one scan+join, one partial agg, one lazy estimate — skips the
        per-step toPandas/localCheckpoint accumulation entirely
        (measured 11.3s -> ~6s on the 150k-group aggdim inner; r6:
        the whole early_stop=False front door).  Errors stay
        computable: the single span still yields per-(tier, block)
        partials, so the subsample ``_err`` closed form is unchanged.
        The schedule is chosen by :func:`_final_only`."""
        from .sampling import join, progressive

        tf = self._transform_of(plan)
        kw = self._exec_kwargs()
        ekw = {"engine": kw["engine"], "engine_threshold": kw["engine_threshold"]}
        if final_only:
            _final_only(ekw)
        scr, args = plan.scrambles, (plan.aggs, plan.group_cols)
        # dispatch through the module attributes (not the shared driver)
        # so per-entry-point instrumentation sees every call
        if len(scr) == 1:
            return progressive.progressive_agg(*scr[0], *args, transform=tf, **ekw)
        if len(scr) == 2:
            return join.progressive_join_agg(
                *scr[0], *scr[1], plan.scramble_on[0], *args, transform=tf, **ekw
            )
        return join.progressive_multi_join_agg(
            scr, plan.scramble_on, *args, transform=tf, **ekw
        )

    def _transform_of(self, plan: _Plan):
        p = plan.parsed

        def tf(batch: DataFrame) -> DataFrame:
            if plan.scramble_subq is not None:
                # row-local derived table: inner WHERE then projection
                # (tier/block ride along — the sampling contract)
                items, inner_where = plan.scramble_subq
                if inner_where is not None:
                    batch = batch.where(F.expr(inner_where))
                if items is not None:
                    batch = batch.select(
                        *[F.expr(e).alias(a) for e, a in items],
                        TIER_COL,
                        BLOCK_COL,
                    )
            for dim_df, pairs, how in plan.dim_joins:
                cond = None
                for hc, dc in pairs:
                    c = batch[hc] == dim_df[dc]
                    cond = c if cond is None else cond & c
                batch = batch.join(dim_df, cond, how)
            for kind, lhs, inner_df, key in plan.where_subqs:
                # WHERE-subquery conjuncts as join filters (AQE picks
                # broadcast vs shuffle by the inner's actual size);
                # constant-outcome cases were resolved at plan time
                if kind == "scalar":
                    comp, value = key
                    col, lit = F.expr(lhs), F.lit(value)
                    batch = batch.where(
                        {
                            "=": col == lit,
                            "<>": col != lit,
                            "!=": col != lit,
                            "<": col < lit,
                            "<=": col <= lit,
                            ">": col > lit,
                            ">=": col >= lit,
                        }[comp]
                    )
                elif kind == "in":
                    batch = batch.join(
                        inner_df, F.expr(lhs) == F.col(key), "left_semi"
                    )
                else:  # not_in, NULL-free inner: NULL probe values
                    # compare to NULL, not TRUE — filter them before
                    # the anti join would keep them
                    batch = batch.where(F.expr(lhs).isNotNull()).join(
                        inner_df, F.expr(lhs) == F.col(key), "left_anti"
                    )
            if p.where is not None:
                batch = batch.where(F.expr(p.where))
            for name, expr in plan.derived:
                batch = batch.withColumn(name, F.expr(expr))
            return batch

        return tf

    def _execute(
        self, plan: _Plan, early_stop: bool, with_errors: bool,
        final_only: bool = False,
    ) -> DataFrame:
        from .sampling.progressive import fold_progressive

        p = plan.parsed
        kw = self._exec_kwargs()
        try:
            res = fold_progressive(
                self._progression(plan, final_only=final_only),
                plan.aggs, plan.group_cols,
                early_stop=early_stop,
                value_threshold=kw["value_threshold"],
                group_threshold=kw["group_threshold"],
            )
        finally:
            # the estimates are materialized (driver pandas or
            # localCheckpoint) — the WHERE-subquery inners are done
            plan.release()

        res = res.renamed(plan.group_renames)
        if res.estimates_sdf is not None:
            # the Spark estimate engine produced a distributed frame —
            # KEEP it distributed: renames, composites, HAVING, ORDER
            # BY and the final select are all Spark expressions, so a
            # high-cardinality GROUP BY never round-trips O(groups)
            # rows through the driver (the reference's
            # SelectAsyncAggExecutionNode exists for exactly this)
            out = res.estimates_sdf
        else:
            out = self.spark.createDataFrame(res.estimates)
        for name, expr in p.composites:
            # composite aggregate select items (sum(a)/sum(b) AS r):
            # evaluate the residual over the estimate columns
            out = out.withColumn(name, F.expr(expr))
            if with_errors:
                # first-order, covariance-free error bound for the
                # composite: sum over each referenced partial p_i of
                # |f(.., p_i + e_i, ..) - f(..)| — exact for linear
                # residuals, an upper-bound-style estimate for ratios
                # (no cross-partial covariance is subtracted; the
                # reference surfaces no error at all for rebuilt
                # expressions, AsyncAggExecutionNode:565-639)
                terms = []
                for a in plan.aggs:
                    if (
                        re.search(rf"\b{re.escape(a.alias)}\b", expr)
                        and f"{a.alias}_err" in out.columns
                    ):
                        shifted = re.sub(
                            rf"\b{re.escape(a.alias)}\b",
                            f"({a.alias} + {a.alias}_err)",
                            expr,
                        )
                        terms.append(F.abs(F.expr(shifted) - F.col(name)))
                if terms:
                    err_col = terms[0]
                    for t in terms[1:]:
                        err_col = err_col + t
                    out = out.withColumn(f"{name}_err", err_col)
        if p.having is not None:
            out = out.where(F.expr(p.having))
        if p.order_by:
            out = out.orderBy(
                *[
                    F.expr(o.expr).desc() if o.desc else F.expr(o.expr).asc()
                    for o in p.order_by
                ]
            )
        cols = list(p.select_order)
        if with_errors:
            for a in plan.aggs:
                err = f"{a.alias}_err"
                if a.alias in cols and err in out.columns:
                    cols.insert(cols.index(a.alias) + 1, err)
            for name, _ in p.composites:
                err = f"{name}_err"
                if name in cols and err in out.columns:
                    cols.insert(cols.index(name) + 1, err)
        out = out.select(*cols)
        if p.limit is not None:
            out = out.limit(p.limit)
        return out


# --------------------------------------------------------- module-level
def approx_sql(
    spark: SparkSession, query: str, root: str, early_stop: bool = True
) -> DataFrame:
    """One-shot ``VerdictContext(spark, root).sql(query)``."""
    return VerdictContext(spark, root).sql(query, early_stop=early_stop)
