"""The route table behind sql() and stream(): which route answers each
statement shape, what debug surfaces, and what each route may not hide."""

from __future__ import annotations

import pytest

from verdictdb_spark.api import VerdictContext
from verdictdb_spark.sqlparse import Unsupported

NESTED2 = (
    "SELECT count(*) AS n, max(s) AS mx FROM (SELECT l_returnflag, "
    "sum(l_quantity) AS s FROM lineitem GROUP BY l_returnflag) t"
)

# name -> (statement, route answering sql(), percentile engine under
# early_stop=True, what stream() does: "yields" | "empty" | "raises")
CASES = {
    "aggregate": (
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "GROUP BY l_returnflag",
        "aggregate", None, "yields",
    ),
    "const_false": (
        "SELECT count(*) AS c FROM lineitem WHERE l_quantity > "
        "(SELECT max(l_quantity) FROM lineitem WHERE 1 = 0)",
        "exact", None, "empty",
    ),
    "percentile_early_stop": (
        "SELECT l_returnflag AS f, percentile(l_quantity, 0.5) AS med "
        "FROM lineitem GROUP BY l_returnflag",
        "percentile", "progressive", "yields",
    ),
    "percentile_multi_expression": (
        "SELECT percentile(l_quantity, 0.5) AS q, median(l_discount) AS d "
        "FROM lineitem",
        "percentile", "one-shot", "raises",
    ),
    "nested_depth2": (NESTED2, "nested", None, "yields"),
    "nested_depth3": (
        "SELECT max(m) AS mm FROM (SELECT n, avg(s) AS m FROM (SELECT "
        "l_orderkey, count(*) AS n, sum(l_quantity) AS s FROM lineitem "
        "GROUP BY l_orderkey) a GROUP BY n) b",
        "nested", None, "raises",
    ),
    "cte": (
        "WITH hot AS (SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "WHERE l_quantity > 10 GROUP BY l_returnflag) SELECT max(s) AS m FROM hot",
        "nested", None, "yields",
    ),
    "union_all": (
        "SELECT l_returnflag AS k, count(*) AS c FROM lineitem GROUP BY "
        "l_returnflag UNION ALL SELECT o_orderstatus AS k, count(*) AS c "
        "FROM orders GROUP BY o_orderstatus",
        "union", None, "raises",
    ),
    "plain_exact": (
        "SELECT o_orderstatus, count(*) AS c FROM orders GROUP BY o_orderstatus",
        "exact", None, "raises",
    ),
}


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").cache()
    df.createOrReplaceTempView("lineitem")
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").cache()
    df.createOrReplaceTempView("orders")
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def ctx(spark, tmp_path_factory, lineitem, orders):
    c = VerdictContext(spark, str(tmp_path_factory.mktemp("routes_root")))
    c.create_scramble("lineitem", lineitem, method="uniform", nblocks=6, seed=3)
    return c


def _spy_routes(ctx, monkeypatch) -> dict:
    """Record which route methods answered (returned a frame), whether
    the progressive executor ran, and which percentile engine ran."""
    from verdictdb_spark.operators import quantile

    seen = {"answered": [], "executed": 0, "percentile": []}
    cls = type(ctx)
    for name in ("_try_percentile", "_try_nested", "_try_union"):
        def spy(self, *a, _orig=getattr(cls, name), _name=name, **k):
            out = _orig(self, *a, **k)
            if out is not None:
                seen["answered"].append(_name[len("_try_"):])
            return out

        monkeypatch.setattr(cls, name, spy)

    def exec_spy(self, *a, _orig=cls._execute, **k):
        seen["executed"] += 1
        return _orig(self, *a, **k)

    monkeypatch.setattr(cls, "_execute", exec_spy)
    for attr, engine in (
        ("progressive_quantiles", "progressive"),
        ("approx_quantiles_wide", "one-shot"),
    ):
        def qspy(*a, _orig=getattr(quantile, attr), _engine=engine, **k):
            seen["percentile"].append(_engine)
            return _orig(*a, **k)

        monkeypatch.setattr(quantile, attr, qspy)
    return seen


def _route(seen: dict) -> str:
    # a route method returns after the routes it calls into, so the
    # last one to answer is the top-level route
    if seen["answered"]:
        return seen["answered"][-1]
    return "aggregate" if seen["executed"] else "exact"


@pytest.mark.parametrize("case", list(CASES))
def test_route_contract_sql(ctx, monkeypatch, case):
    query, route, pct_engine, _ = CASES[case]
    seen = _spy_routes(ctx, monkeypatch)
    ctx.sql(query)
    assert _route(seen) == route
    if pct_engine is not None:
        assert set(seen["percentile"]) == {pct_engine}
        # without early stop only the final answer is consumed: one pass
        seen["percentile"].clear()
        ctx.sql(query, early_stop=False)
        assert set(seen["percentile"]) == {"one-shot"}


@pytest.mark.parametrize("case", list(CASES))
def test_route_contract_stream(ctx, case):
    query, _, _, outcome = CASES[case]
    gen = ctx.stream(query)  # lazy: nothing runs before the first step
    if outcome == "raises":
        with pytest.raises(Unsupported):
            list(gen)
        return
    steps = list(gen)
    assert (len(steps) > 0) == (outcome == "yields")


@pytest.mark.parametrize(
    "query",
    [
        # nested: the inner's COUNT DISTINCT needs a hash scramble
        "SELECT max(s) AS m FROM (SELECT l_returnflag, count(DISTINCT "
        "l_suppkey) AS s FROM lineitem GROUP BY l_returnflag) t",
        # union: the same failure inside one side
        "SELECT count(DISTINCT l_suppkey) AS s FROM lineitem UNION ALL "
        "SELECT count(*) AS s FROM orders",
    ],
    ids=["nested", "union"],
)
def test_debug_surfaces_route_failures(ctx, spark, query):
    want = sorted(r[0] for r in spark.sql(query).collect())
    assert sorted(r[0] for r in ctx.sql(query).collect()) == want
    ctx.sql("SET verdictdb.debug = true")
    try:
        with pytest.raises(ValueError, match="hash scramble"):
            ctx.sql(query)
    finally:
        ctx.sql("SET verdictdb.debug = false")


def test_stream_plans_nested_inner_once(ctx, spark, monkeypatch):
    # each _plan runs the WHERE subqueries (persists the IN inner), so
    # the stream must plan the derived table once, not probe and re-plan
    inner = (
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem WHERE "
        "l_orderkey IN (SELECT o_orderkey FROM orders WHERE "
        "o_totalprice > 100000) GROUP BY l_returnflag"
    )
    query = f"SELECT count(*) AS n, sum(s) AS tot FROM ({inner}) t"
    planned = []
    cls = type(ctx)

    def plan_spy(self, q, *a, _orig=cls._plan, **k):
        planned.append(q)
        return _orig(self, q, *a, **k)

    monkeypatch.setattr(cls, "_plan", plan_spy)
    steps = list(ctx.stream(query))
    assert planned.count(inner) == 1
    assert steps and steps[-1].coverage == 1.0
    want = spark.sql(query).collect()[0]
    final = steps[-1].estimates.iloc[0]
    assert int(final["n"]) == want["n"]
    assert float(final["tot"]) == pytest.approx(float(want["tot"]))


@pytest.mark.parametrize(
    "query",
    [
        "SELECT sum(o_totalprice) AS s FROM orders",
        "SELECT percentile(o_totalprice, 0.5) AS m FROM orders",
    ],
    ids=["aggregate", "percentile"],
)
def test_broken_scramble_is_not_an_exact_fallback(spark, tmp_path, orders, query):
    # a registered scramble whose artifact is gone is an error on every
    # route, never a silent exact answer
    c = VerdictContext(spark, str(tmp_path / "root"))
    c.metastore.register("scramble", "orders", str(tmp_path / "gone"), "{}")
    with pytest.raises(FileNotFoundError):
        c.sql(query)
    with pytest.raises(FileNotFoundError):
        list(c.stream(query))


@pytest.mark.parametrize(
    "query",
    [
        "SELECT sum(o_totalprice) AS s FROM orders",
        "SELECT percentile(o_totalprice, 0.5) AS m FROM orders",
    ],
    ids=["aggregate", "percentile"],
)
def test_corrupt_scramble_meta_is_not_an_exact_fallback(spark, tmp_path, orders, query):
    # a truncated meta file is an error naming the file on every route,
    # never a silent exact answer
    from verdictdb_spark.sampling.scramble import ScrambleMetaError

    path = tmp_path / "truncated"
    path.mkdir()
    (path / "_verdictdb_meta.json").write_text('{"method": "unif')
    c = VerdictContext(spark, str(tmp_path / "root"))
    c.metastore.register("scramble", "orders", str(path), "{}")
    for run in (lambda: c.sql(query), lambda: list(c.stream(query))):
        with pytest.raises(ScrambleMetaError) as err:
            run()
        assert not isinstance(err.value, ValueError)
        assert str(path / "_verdictdb_meta.json") in str(err.value)
