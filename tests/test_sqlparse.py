"""Pure parse tests of the SQL-text readers: no Spark session."""

from __future__ import annotations

import pytest

from verdictdb_spark.sqlparse import (
    OrderItem,
    Unsupported,
    parse_percentile_select,
    parse_simple_inner,
)


def test_parse_percentile_order_limit():
    # ORDER BY ordinal and DESC resolve against the output names
    p = parse_percentile_select(
        "SELECT g, percentile(x, 0.5) AS m FROM t GROUP BY g ORDER BY 2 DESC, 1"
        " LIMIT 3"
    )
    assert p.order_by == [OrderItem("m", desc=True), OrderItem("g")]
    assert p.select_order == ["g", "m"] and p.limit == 3
    # a group key in ORDER BY maps to its select-list alias
    p = parse_percentile_select(
        "SELECT g AS grp, median(x) AS m FROM t GROUP BY g ORDER BY g DESC"
    )
    assert p.group_out == [("g", "grp")] and p.group_cols == ["g"]
    assert p.order_by == [OrderItem("grp", desc=True)]
    # ORDER BY on an expression that is not an output: not this shape
    assert (
        parse_percentile_select(
            "SELECT g, median(x) AS m FROM t GROUP BY g ORDER BY h"
        )
        is None
    )
    assert (
        parse_percentile_select(
            "SELECT g, median(x) AS m FROM t GROUP BY g ORDER BY 3"
        )
        is None
    )
    # a LIMIT that is not an integer literal
    assert parse_percentile_select("SELECT median(x) AS m FROM t LIMIT 2.5") is None
    assert parse_percentile_select("SELECT median(x) AS m FROM t LIMIT n") is None
    # median(x) is the 0.5 percentile; median takes exactly one argument
    p = parse_percentile_select("SELECT median(x) FROM t")
    assert p.items == [("p50_x", "x", 0.5)] and p.select_order == ["p50_x"]
    assert parse_percentile_select("SELECT median(x, y) AS m FROM t") is None
    # qualified names lose their qualifier everywhere
    p = parse_percentile_select(
        "SELECT a.g, percentile(a.x, 0.25) AS q FROM db.tbl a"
        " WHERE a.y > 1 GROUP BY a.g ORDER BY a.g, db.tbl.g"
    )
    assert p.table == "db.tbl" and p.where == "y > 1"
    assert p.group_cols == ["g"] and p.group_out == [("g", "g")]
    assert p.items == [("q", "x", 0.25)]
    assert p.order_by == [OrderItem("g"), OrderItem("g")]


def test_parse_percentile_group_by_ordinal():
    # GROUP BY <ordinal> resolves against the select list, as it does
    # for the aggregate parser
    p = parse_percentile_select(
        "SELECT g AS k, percentile(x, 0.9) AS q FROM t GROUP BY 1 ORDER BY 1"
    )
    assert p is not None
    assert p.group_cols == ["g"] and p.group_out == [("g", "k")]
    assert p.order_by == [OrderItem("k")]
    assert (
        parse_percentile_select("SELECT g, median(x) AS m FROM t GROUP BY 3")
        is None
    )


def test_parse_simple_inner_shapes():
    # `*` keeps every column
    assert parse_simple_inner("SELECT * FROM t WHERE a > 1") == ("t", None, "a > 1")
    # aggregates, unaliased expressions and WHERE subqueries are not
    # row-local
    with pytest.raises(Unsupported):
        parse_simple_inner("SELECT sum(a) AS s FROM t")
    with pytest.raises(Unsupported):
        parse_simple_inner("SELECT a, coalesce(b, count(c)) AS d FROM t")
    with pytest.raises(Unsupported):
        parse_simple_inner("SELECT a + 1 FROM t")
    with pytest.raises(Unsupported):
        parse_simple_inner("SELECT a FROM t WHERE a IN (SELECT b FROM u)")
    # qualifiers are stripped from items and WHERE, never from literals
    assert parse_simple_inner(
        "SELECT x.a, x.b * 2 AS b2, t.c c2 FROM t x WHERE x.c = 'x.d'"
    ) == ("t", [("a", "a"), ("b * 2", "b2"), ("c", "c2")], "c = 'x.d'")
