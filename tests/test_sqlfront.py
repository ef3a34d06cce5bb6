"""Round-3 SQL front door: expression aggregates, ORDER BY / HAVING /
LIMIT, DISTINCT legality, join substitution (scramble x dim, scramble
x scramble, N-way chain), error-bar exposure — the reference's full
rewritable surface (VerdictSQLParser.g4:417-449, ExpressionGen.java:
111-345, ScrambleTableReplacer.java:61-229)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from verdictdb_spark.api import VerdictContext
from verdictdb_spark.sqlparse import Unsupported, parse_select


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def ctx(spark, tmp_path_factory, lineitem):
    c = VerdictContext(spark, str(tmp_path_factory.mktemp("sqlfront_root")))
    c.create_scramble("lineitem", lineitem, method="uniform", nblocks=6, seed=3)
    return c


@pytest.fixture(scope="module")
def jctx(spark, tmp_path_factory, lineitem, orders, sf_dir):
    c = VerdictContext(spark, str(tmp_path_factory.mktemp("sqlfront_join")))
    c.create_scramble("lineitem", lineitem, method="uniform", nblocks=6, seed=7)
    c.create_scramble("orders", orders, method="uniform", nblocks=3, seed=13)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    c.create_scramble("customer", cust, method="uniform", nblocks=2, seed=29)
    return c


# ------------------------------------------------------------- parser
def test_parse_order_by_not_swallowed_into_group():
    p = parse_select(
        "SELECT sum(x) AS s FROM t GROUP BY g ORDER BY g"
    )
    assert [gi.expr for gi in p.group_items] == ["g"]
    # g is not selected, so ORDER BY maps to the hidden group alias
    assert p.order_by[0].expr == p.group_items[0].alias
    assert not p.order_by[0].desc


def test_parse_expression_aggregate():
    p = parse_select(
        "SELECT l_returnflag, sum(l_extendedprice * (1 - l_discount)) AS rev "
        "FROM lineitem GROUP BY l_returnflag"
    )
    a = [x for x in p.agg_items if not x.hidden]
    assert a[0].op == "sum" and "l_discount" in a[0].expr and a[0].alias == "rev"


def test_parse_limit_and_desc():
    p = parse_select("SELECT count(*) AS c, g FROM t GROUP BY g ORDER BY c DESC LIMIT 5")
    assert p.limit == 5 and p.order_by[0].desc


def test_parse_having_rewrites_agg_to_alias():
    p = parse_select(
        "SELECT g, sum(x) AS s FROM t GROUP BY g HAVING sum(x) > 10 AND count(*) > 2"
    )
    assert "s > 10" in p.having
    hidden = [a for a in p.agg_items if a.hidden]
    assert len(hidden) == 1 and hidden[0].op == "count"


def test_parse_distinct_sum_unsupported():
    with pytest.raises(Unsupported):
        parse_select("SELECT sum(DISTINCT x) FROM t")
    with pytest.raises(Unsupported):
        parse_select("SELECT avg(DISTINCT x) FROM t")


def test_parse_join_pairs():
    p = parse_select(
        "SELECT o_orderpriority, count(*) AS c FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o_orderpriority"
    )
    assert p.joins[0].pairs == [("l_orderkey", "o_orderkey")]


def test_parse_group_by_ordinal():
    p = parse_select("SELECT g, count(*) AS c FROM t GROUP BY 1")
    assert p.group_items[0].expr == "g"


def test_parse_rejects_outer_join_and_subquery():
    # LEFT parses as of round 4 (planner enforces sides); round 5 adds
    # RIGHT (mirrored to LEFT) and scalar comparison subqueries; FULL,
    # aliasless derived tables, and OR beside a subquery conjunct stay
    # exact-fallback
    pr = parse_select("SELECT count(*) FROM a RIGHT JOIN b ON a.x = b.y")
    assert [t.name for t in pr.tables] == ["b", "a"] and pr.joins[0].how == "left"
    with pytest.raises(Unsupported):
        parse_select("SELECT count(*) FROM a FULL JOIN b ON a.x = b.y")
    with pytest.raises(Unsupported):
        parse_select("SELECT count(*) FROM (SELECT * FROM t)")  # no alias
    with pytest.raises(Unsupported):
        parse_select("SELECT count(*) FROM t WHERE a = 1 OR x IN (SELECT y FROM u)")
    ps = parse_select("SELECT count(*) FROM t WHERE x > (SELECT avg(y) FROM u)")
    assert ps.where_subqs[0].kind == "scalar" and ps.where_subqs[0].comp == ">"


def test_parse_keywords_inside_strings_ignored():
    p = parse_select(
        "SELECT count(*) AS c FROM t WHERE name = 'GROUP BY ORDER BY FROM'"
    )
    assert p.where.strip().startswith("name")
    assert not p.group_items and not p.order_by


# -------------------------------------------------- single-scramble sql
def test_sql_order_by_limit_no_crash(ctx, lineitem):
    """Round-2 confirmed crash: ORDER BY swallowed into GROUP BY ->
    AnalysisException.  Must now return correct ordered results."""
    out = ctx.sql(
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag LIMIT 2",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
        .orderBy("l_returnflag")
        .limit(2)
        .toPandas()
    )
    assert list(out["l_returnflag"]) == list(exact["l_returnflag"])
    assert out["s"].to_numpy() == pytest.approx(exact["s"].to_numpy())


def test_sql_expression_aggregate_full_coverage(ctx, lineitem):
    out = ctx.sql(
        "SELECT l_returnflag, sum(l_extendedprice * (1 - l_discount)) AS rev "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        .orderBy("l_returnflag")
        .toPandas()
    )
    assert out["rev"].to_numpy() == pytest.approx(exact["rev"].to_numpy(), rel=1e-9)


def test_sql_having(ctx, lineitem):
    out = ctx.sql(
        "SELECT l_returnflag, count(*) AS c FROM lineitem "
        "GROUP BY l_returnflag HAVING count(*) > 0 ORDER BY l_returnflag",
        early_stop=False,
    ).toPandas()
    assert len(out) == 3  # all three flags survive a trivial HAVING
    out2 = ctx.sql(
        "SELECT l_returnflag, count(*) AS c FROM lineitem "
        "GROUP BY l_returnflag HAVING count(*) > 1e12",
        early_stop=False,
    ).toPandas()
    assert len(out2) == 0


def test_sql_order_by_hidden_aggregate(ctx, lineitem):
    """ORDER BY an aggregate that is not in the select list."""
    out = ctx.sql(
        "SELECT l_returnflag FROM lineitem GROUP BY l_returnflag "
        "ORDER BY sum(l_quantity) DESC, l_returnflag LIMIT 1",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
        .orderBy(F.desc("s"), "l_returnflag")
        .limit(1)
        .toPandas()
    )
    assert list(out.columns) == ["l_returnflag"]
    assert out["l_returnflag"].iloc[0] == exact["l_returnflag"].iloc[0]


def test_sql_distinct_sum_falls_back_exact(ctx, spark, lineitem):
    """ADVICE high: sum(DISTINCT x) must NOT be silently rewritten as
    plain sum over the scramble — exact pass-through required."""
    lineitem.createOrReplaceTempView("lineitem")
    out = ctx.sql("SELECT sum(DISTINCT l_quantity) AS s FROM lineitem").first()["s"]
    exact = spark.sql("SELECT sum(DISTINCT l_quantity) AS s FROM lineitem").first()["s"]
    assert out == pytest.approx(exact)


def test_sql_group_by_expression(ctx, lineitem):
    out = ctx.sql(
        "SELECT year(l_shipdate) AS yr, count(*) AS c FROM lineitem "
        "GROUP BY year(l_shipdate) ORDER BY yr",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.groupBy(F.year("l_shipdate").alias("yr"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("yr")
        .toPandas()
    )
    assert list(out["yr"]) == list(exact["yr"])
    assert out["c"].to_numpy() == pytest.approx(exact["c"].to_numpy())


def test_sql_with_errors_exposes_err_columns(ctx):
    out = ctx.sql(
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "GROUP BY l_returnflag",
        early_stop=True,
        with_errors=True,
    )
    assert "s_err" in out.columns
    pdf = out.toPandas()
    assert (pdf["s_err"].dropna() >= 0).all()


def test_sql_without_errors_hides_err_columns(ctx):
    out = ctx.sql(
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "GROUP BY l_returnflag"
    )
    assert "s_err" not in out.columns


# ------------------------------------------------------ join substitution
def test_sql_scramble_join_dimension(ctx, spark, orders, lineitem):
    """SQL with scrambled lineitem JOIN unscrambled orders: the dim is
    resolved from the catalog and joined per block batch."""
    orders.createOrReplaceTempView("orders")
    out = ctx.sql(
        "SELECT o_orderpriority, sum(l_quantity) AS s, count(*) AS c "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .orderBy("o_orderpriority")
        .toPandas()
    )
    assert list(out["o_orderpriority"]) == list(exact["o_orderpriority"])
    assert out["s"].to_numpy() == pytest.approx(exact["s"].to_numpy())
    assert out["c"].to_numpy() == pytest.approx(exact["c"].to_numpy())


def test_sql_two_scrambles_join(jctx, lineitem, orders):
    out = jctx.sql(
        "SELECT o_orderpriority, sum(l_quantity) AS s, count(*) AS c "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .orderBy("o_orderpriority")
        .toPandas()
    )
    assert list(out["o_orderpriority"]) == list(exact["o_orderpriority"])
    assert out["s"].to_numpy() == pytest.approx(exact["s"].to_numpy())
    assert out["c"].to_numpy() == pytest.approx(exact["c"].to_numpy())


def test_sql_three_scramble_chain(jctx, spark, sf_dir, lineitem, orders):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = jctx.sql(
        "SELECT c_mktsegment, sum(l_quantity) AS s, count(*) AS c "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .orderBy("c_mktsegment")
        .toPandas()
    )
    assert list(out["c_mktsegment"]) == list(exact["c_mktsegment"])
    assert out["s"].to_numpy() == pytest.approx(exact["s"].to_numpy())
    assert out["c"].to_numpy() == pytest.approx(exact["c"].to_numpy())


def test_sql_join_where_on_dim_column(ctx, spark, orders, lineitem):
    """WHERE predicate over a dimension column (applied post-join per
    block) must be honored."""
    orders.createOrReplaceTempView("orders")
    out = ctx.sql(
        "SELECT count(*) AS c FROM lineitem JOIN orders "
        "ON l_orderkey = o_orderkey WHERE o_totalprice > 200000",
        early_stop=False,
    ).first()["c"]
    exact = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .where("o_totalprice > 200000")
        .count()
    )
    assert out == pytest.approx(exact)


def test_sql_tpch_q1_text(ctx, spark, lineitem):
    """TPC-H Q1's shape as raw SQL text through the front door —
    the round-2 verdict's done-criterion."""
    out = ctx.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               avg(l_quantity) AS avg_qty,
               avg(l_extendedprice) AS avg_price,
               avg(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        early_stop=False,
    ).toPandas()
    li = lineitem.where(F.col("l_shipdate") <= "1998-09-01")
    exact = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
        .toPandas()
    )
    assert list(out.columns) == list(exact.columns)
    pd.testing.assert_frame_equal(
        out, exact, check_exact=False, rtol=1e-9, check_dtype=False
    )


# ------------------------------------------------ review-pass regressions
def test_strip_qualifiers_never_rewrites_string_literals():
    from verdictdb_spark.sqlparse import strip_qualifiers

    out = strip_qualifiers("c_note = 'c.o.d. only'", ["c", "o"])
    assert out == "c_note = 'c.o.d. only'"
    out2 = strip_qualifiers("o.o_comment LIKE '%o.k%'", ["o"])
    assert out2 == "o_comment LIKE '%o.k%'"


def test_order_by_ordinal_resolved():
    p = parse_select(
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "GROUP BY l_returnflag ORDER BY 2 DESC LIMIT 5"
    )
    assert p.order_by[0].expr == "s" and p.order_by[0].desc
    with pytest.raises(Unsupported):
        parse_select("SELECT g, count(*) AS c FROM t GROUP BY g ORDER BY 9")


def test_sql_order_by_ordinal_executes(ctx, lineitem):
    out = ctx.sql(
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "GROUP BY l_returnflag ORDER BY 2 DESC LIMIT 1",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
        .orderBy(F.desc("s"))
        .limit(1)
        .toPandas()
    )
    assert out["l_returnflag"].iloc[0] == exact["l_returnflag"].iloc[0]


def test_sql_string_literal_containing_alias_dot(ctx, lineitem):
    """A constant containing '<alias>.' must survive the rewrite."""
    out = ctx.sql(
        "SELECT count(*) AS c FROM lineitem l WHERE l.l_returnflag <> 'l.x'",
        early_stop=False,
    ).first()["c"]
    assert out == pytest.approx(lineitem.count())


# ---------------------------------------------------- scramble DDL SQL
def test_ddl_create_show_drop_roundtrip(spark, tmp_path, lineitem):
    """CREATE SCRAMBLE / SHOW SCRAMBLES / DROP SCRAMBLE as SQL text
    (reference grammar VerdictSQLParser.g4:69-102)."""
    c = VerdictContext(spark, str(tmp_path))
    lineitem.limit(3000).createOrReplaceTempView("li_ddl")
    st = c.sql("CREATE SCRAMBLE li_ddl_scr FROM li_ddl METHOD uniform SIZE 1.0")
    assert st.first()["status"] == "created"
    shown = c.sql("SHOW SCRAMBLES").toPandas()
    assert list(shown["scramble"]) == ["li_ddl_scr"]
    assert shown["method"].iloc[0] == "uniform"
    # the created scramble answers approximate queries for the source
    out = c.sql(
        "SELECT count(*) AS n FROM li_ddl", early_stop=False
    ).first()["n"]
    assert out == pytest.approx(3000)
    # IF NOT EXISTS is idempotent; plain CREATE raises
    assert c.sql(
        "CREATE SCRAMBLE IF NOT EXISTS li_ddl_scr FROM li_ddl"
    ).first()["status"] == "exists"
    with pytest.raises(ValueError, match="already exists"):
        c.sql("CREATE SCRAMBLE li_ddl_scr FROM li_ddl")
    dropped = c.sql("DROP SCRAMBLE li_ddl_scr").first()["dropped"]
    assert dropped == 1
    assert c.sql("SHOW SCRAMBLES").count() == 0


def test_show_scrambles_for_is_case_insensitive(spark, tmp_path, lineitem):
    # identifiers compare like the statement keywords: an upper-case
    # FOR LINEITEM lists the scramble registered for "lineitem"
    c = VerdictContext(spark, str(tmp_path))
    c.create_scramble("lineitem", lineitem.limit(500), nblocks=2, seed=3)
    for qual in ("LINEITEM", "lineitem", "LineItem"):
        shown = c.sql(f"SHOW SCRAMBLES FOR {qual}").toPandas()
        assert list(shown["original_table"]) == ["lineitem"], qual
    assert c.sql("SHOW SCRAMBLES FOR orders").count() == 0


def test_ddl_create_hash_scramble_where(spark, tmp_path, lineitem):
    c = VerdictContext(spark, str(tmp_path))
    lineitem.createOrReplaceTempView("li_ddl2")
    c.sql(
        "CREATE SCRAMBLE li_h FROM li_ddl2 WHERE l_quantity > 10 "
        "METHOD hash HASHCOLUMN l_orderkey"
    )
    out = c.sql(
        "SELECT count(DISTINCT l_orderkey) AS ndv FROM li_ddl2",
        early_stop=False,
    ).first()["ndv"]
    # the scramble was built over the filtered rows; count distinct is
    # exact over that subset at full coverage
    exact = (
        lineitem.where("l_quantity > 10").select("l_orderkey").distinct().count()
    )
    assert round(out) == exact


def test_ddl_append_scramble(spark, tmp_path, lineitem):
    c = VerdictContext(spark, str(tmp_path))
    lineitem.createOrReplaceTempView("li_ddl3")
    c.sql("CREATE SCRAMBLE li_a FROM li_ddl3 WHERE l_orderkey % 2 = 0")
    st = c.sql("APPEND SCRAMBLE li_a WHERE l_orderkey % 2 = 1")
    assert st.first()["appended_rows"] > 0
    out = c.sql("SELECT count(*) AS n FROM li_ddl3", early_stop=False).first()["n"]
    assert out == pytest.approx(lineitem.count())


def test_ddl_drop_all(spark, tmp_path, lineitem):
    c = VerdictContext(spark, str(tmp_path))
    lineitem.limit(1000).createOrReplaceTempView("li_ddl4")
    c.sql("CREATE SCRAMBLE s1 FROM li_ddl4")
    c.sql("CREATE SCRAMBLE IF NOT EXISTS s2 FROM li_ddl4 METHOD uniform")
    assert c.sql("DROP ALL SCRAMBLES li_ddl4").first()["dropped"] == 2


# -------------------------------------------- BYPASS / STREAM / SET-GET
def test_bypass_prefix_runs_exact(ctx, spark, lineitem):
    lineitem.createOrReplaceTempView("lineitem")
    out = ctx.sql("BYPASS SELECT count(*) AS n FROM lineitem").first()["n"]
    assert out == lineitem.count()  # exact, not scaled


def test_set_get_config(ctx):
    ctx.sql("SET verdictdb.value_threshold = 0.01")
    assert ctx.sql("GET verdictdb.value_threshold").first()["value"] == "0.01"
    assert ctx.conf["verdictdb.value_threshold"] == "0.01"
    ctx.sql("SET verdictdb.value_threshold = 0.02")  # restore


def test_stream_iterator_refines(ctx, lineitem):
    results = list(
        ctx.stream(
            "STREAM SELECT l_returnflag, sum(l_quantity) AS s "
            "FROM lineitem GROUP BY l_returnflag"
        )
    )
    assert len(results) >= 2  # multiple refinement steps
    assert results[-1].is_exact
    covs = [r.coverage for r in results]
    assert covs == sorted(covs)
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
        .toPandas().set_index("l_returnflag")
    )
    got = results[-1].estimates.set_index("l_returnflag")
    for flag in exact.index:
        assert got.loc[flag, "s"] == pytest.approx(exact.loc[flag, "s"])


def test_sql_stream_prefix_returns_final(ctx, lineitem):
    out = ctx.sql(
        "STREAM SELECT sum(l_quantity) AS s FROM lineitem"
    ).first()["s"]
    exact = lineitem.agg(F.sum("l_quantity")).first()[0]
    assert out == pytest.approx(float(exact))


# ----------------------------------------- review-pass 3 regressions
def test_ddl_drop_then_recreate(spark, tmp_path, lineitem):
    """DROP SCRAMBLE must remove the artifact so the name is reusable."""
    c = VerdictContext(spark, str(tmp_path))
    lineitem.limit(1000).createOrReplaceTempView("li_rc")
    c.sql("CREATE SCRAMBLE rc FROM li_rc")
    c.sql("DROP SCRAMBLE rc")
    st = c.sql("CREATE SCRAMBLE rc FROM li_rc")  # no 'already exists'
    assert st.first()["status"] == "created"
    assert c.sql("SHOW SCRAMBLES").count() == 1


def test_spark_native_set_passes_through(ctx, spark):
    """SET spark.* must reach Spark, not the verdict conf dict."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ctx.sql("SET spark.sql.shuffle.partitions = 7")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert "spark.sql.shuffle.partitions" not in ctx.conf
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_set_validates_known_keys(ctx):
    with pytest.raises(ValueError, match="invalid value"):
        ctx.sql("SET verdictdb.value_threshold = oops")
    with pytest.raises(ValueError, match="invalid value"):
        ctx.sql("SET verdictdb.engine = warp")


def test_malformed_ddl_raises(ctx):
    with pytest.raises(ValueError, match="malformed scramble DDL"):
        ctx.sql("CREATE SCRAMBLE missing_from_clause")
    # predicate-less APPEND is legal as of round 4; a missing TARGET
    # still errors at the metastore layer
    with pytest.raises(KeyError, match="no scramble named"):
        ctx.sql("APPEND SCRAMBLE no_such_scramble")


def test_create_options_literal_keywords(spark, tmp_path, lineitem):
    """Option keywords inside WHERE string literals must not truncate
    the predicate; junk options must raise."""
    c = VerdictContext(spark, str(tmp_path))
    lineitem.createOrReplaceTempView("li_lit")
    c.sql("CREATE SCRAMBLE lit FROM li_lit WHERE l_returnflag <> 'on size'")
    n = c.sql("SELECT count(*) AS n FROM li_lit", early_stop=False).first()["n"]
    assert n == pytest.approx(lineitem.where("l_returnflag <> 'on size'").count())
    with pytest.raises(ValueError, match="unrecognized CREATE SCRAMBLE"):
        c.sql("CREATE SCRAMBLE bad FROM li_lit FROBNICATE 3")


def test_stream_applies_select_aliases(ctx, lineitem):
    results = list(
        ctx.stream(
            "SELECT l_returnflag AS f, sum(l_quantity) AS s "
            "FROM lineitem GROUP BY l_returnflag"
        )
    )
    assert "f" in results[-1].estimates.columns


def test_get_spark_native_key_round_trips(ctx, spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ctx.sql("SET spark.sql.shuffle.partitions = 9")
        got = ctx.sql("GET spark.sql.shuffle.partitions").first()["value"]
        assert got == "9"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_set_mixed_case_key_takes_effect(ctx):
    ctx.sql("SET Verdictdb.Value_Threshold = 0.03")
    assert ctx.conf["verdictdb.value_threshold"] == "0.03"
    assert ctx._exec_kwargs()["value_threshold"] == 0.03
    ctx.sql("SET verdictdb.value_threshold = 0.02")


def test_set_error_hint_names_choices(ctx):
    with pytest.raises(ValueError, match="auto\\|driver\\|spark"):
        ctx.sql("SET verdictdb.engine = warp")


def test_create_where_parenthesized_keyword_column(spark, tmp_path, lineitem):
    c = VerdictContext(spark, str(tmp_path))
    lineitem.createOrReplaceTempView("li_paren")
    c.sql("CREATE SCRAMBLE p FROM li_paren WHERE (l_quantity > 10)")
    n = c.sql("SELECT count(*) AS n FROM li_paren", early_stop=False).first()["n"]
    assert n == pytest.approx(lineitem.where("l_quantity > 10").count())


# ------------------------------------------- variance-family aggregates
# (the reference's declared extension surface: supported_queries.md
# "Future supported aggregate functions" — var_pop/var_samp/stddev_pop/
# stddev_samp/covar_pop/covar_samp/corr, decomposed to sum/count
# partials by sqlparse._expand_stats)

def test_parse_stat_call_becomes_composite_with_shared_partials():
    p = parse_select(
        "SELECT g, var_pop(x) AS v, stddev_pop(x) AS s "
        "FROM t GROUP BY g"
    )
    assert [c[0] for c in p.composites] == ["v", "s"]
    # var_pop and stddev_pop of the same column share ALL partials:
    # count(x), sum(x), sum(x*x) — exactly three hidden aggregates
    assert len(p.agg_items) == 3
    assert all(a.hidden for a in p.agg_items)
    assert {a.op for a in p.agg_items} == {"count", "sum"}


def test_parse_stat_distinct_rejected():
    with pytest.raises(Unsupported, match="DISTINCT"):
        parse_select("SELECT var_pop(DISTINCT x) FROM t")


def test_parse_stat_wrong_arity_rejected():
    with pytest.raises(Unsupported, match="two arguments"):
        parse_select("SELECT corr(x) AS c FROM t")
    with pytest.raises(Unsupported, match="one argument"):
        parse_select("SELECT var_pop(x, y) AS v FROM t")


def test_stat_aggregates_full_coverage_exact(ctx, lineitem):
    out = (
        ctx.sql(
            "SELECT l_returnflag, var_pop(l_quantity) AS vq,"
            " var_samp(l_quantity) AS vsq,"
            " stddev_pop(l_quantity) AS sdq,"
            " stddev_samp(l_quantity) AS ssq,"
            " covar_pop(l_quantity, l_extendedprice) AS cv,"
            " covar_samp(l_quantity, l_extendedprice) AS cvs,"
            " corr(l_quantity, l_extendedprice) AS cr"
            " FROM lineitem GROUP BY l_returnflag",
            early_stop=False,
        )
        .orderBy("l_returnflag")
        .toPandas()
    )
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.var_pop("l_quantity").alias("vq"),
            F.var_samp("l_quantity").alias("vsq"),
            F.stddev_pop("l_quantity").alias("sdq"),
            F.stddev_samp("l_quantity").alias("ssq"),
            F.covar_pop("l_quantity", "l_extendedprice").alias("cv"),
            F.covar_samp("l_quantity", "l_extendedprice").alias("cvs"),
            F.corr("l_quantity", "l_extendedprice").alias("cr"),
        )
        .orderBy("l_returnflag")
        .toPandas()
    )
    for c in ["vq", "vsq", "sdq", "ssq", "cv", "cvs", "cr"]:
        assert out[c].to_numpy() == pytest.approx(
            exact[c].to_numpy(), rel=1e-9
        ), c


def test_stat_two_arg_null_semantics(spark, tmp_path):
    # covar/corr must restrict every partial to rows where BOTH inputs
    # are non-null (SQL semantics) — the `+ 0*other` guard
    pdf = pd.DataFrame(
        {
            "g": ["a"] * 6,
            "x": [1.0, 2.0, 3.0, None, 5.0, 6.0],
            "y": [2.0, None, 6.0, 8.0, 10.0, 14.0],
        }
    )
    df = spark.createDataFrame(pdf)
    c = VerdictContext(spark, str(tmp_path))
    df.createOrReplaceTempView("nulltab")
    c.create_scramble("nulltab", df, method="uniform", nblocks=2, seed=5)
    out = c.sql(
        "SELECT g, covar_pop(x, y) AS cv, corr(x, y) AS cr,"
        " var_samp(x) AS vs FROM nulltab GROUP BY g",
        early_stop=False,
    ).toPandas()
    exact = (
        df.groupBy("g")
        .agg(
            F.covar_pop("x", "y").alias("cv"),
            F.corr("x", "y").alias("cr"),
            F.var_samp("x").alias("vs"),
        )
        .toPandas()
    )
    assert out["cv"].iloc[0] == pytest.approx(exact["cv"].iloc[0], rel=1e-9)
    assert out["cr"].iloc[0] == pytest.approx(exact["cr"].iloc[0], rel=1e-9)
    assert out["vs"].iloc[0] == pytest.approx(exact["vs"].iloc[0], rel=1e-9)


def test_stat_degenerate_group_is_null(spark, tmp_path):
    # var_samp/stddev_samp of a single-row group is NULL (n-1 == 0),
    # matching SQL — the CASE guard, not a div-by-zero artifact
    pdf = pd.DataFrame({"g": ["a", "b", "b"], "x": [4.0, 1.0, 3.0]})
    df = spark.createDataFrame(pdf)
    c = VerdictContext(spark, str(tmp_path))
    df.createOrReplaceTempView("degtab")
    c.create_scramble("degtab", df, method="uniform", nblocks=1, seed=5)
    out = (
        c.sql(
            "SELECT g, var_samp(x) AS vs, stddev_samp(x) AS ss,"
            " var_pop(x) AS vp FROM degtab GROUP BY g",
            early_stop=False,
        )
        .orderBy("g")
        .toPandas()
    )
    assert pd.isna(out["vs"].iloc[0]) and pd.isna(out["ss"].iloc[0])
    assert out["vp"].iloc[0] == pytest.approx(0.0)
    assert out["vs"].iloc[1] == pytest.approx(2.0)


def test_stat_in_having_and_expression(ctx, lineitem):
    # stat calls inside HAVING and inside a larger select expression
    out = ctx.sql(
        "SELECT l_returnflag, 2 * var_pop(l_quantity) AS v2"
        " FROM lineitem GROUP BY l_returnflag"
        " HAVING stddev_pop(l_quantity) > 0 ORDER BY l_returnflag",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.var_pop("l_quantity").alias("v"))
        .orderBy("l_returnflag")
        .toPandas()
    )
    assert out["v2"].to_numpy() == pytest.approx(
        2 * exact["v"].to_numpy(), rel=1e-9
    )


def test_stat_with_errors_columns(ctx):
    out = ctx.sql(
        "SELECT l_returnflag, var_pop(l_quantity) AS vq"
        " FROM lineitem GROUP BY l_returnflag",
        early_stop=False,
        with_errors=True,
    )
    assert "vq_err" in out.columns


# ------------------------------------------------- percentile front door
# supported_queries.md "percentile(col1, p)" — routed to a one-pass
# mergeable KLL sketch by api._try_percentile (not progressive H-T)

def test_parse_percentile_shapes():
    from verdictdb_spark.sqlparse import parse_percentile_select

    p = parse_percentile_select(
        "SELECT g, percentile(x, 0.25) AS q25, approx_percentile(y, 0.5) AS m"
        " FROM t GROUP BY g ORDER BY g LIMIT 5"
    )
    assert p is not None
    assert p.items == [("q25", "x", 0.25), ("m", "y", 0.5)]
    assert p.group_cols == ["g"] and p.limit == 5
    # not-this-shape cases return None (fallback chain continues)
    assert parse_percentile_select("SELECT sum(x) FROM t") is None
    assert parse_percentile_select("SELECT percentile(x, 1.5) AS q FROM t") is None
    assert (
        parse_percentile_select(
            "SELECT percentile(x, 0.5) + 1 AS q FROM t"
        )
        is None
    )
    assert (
        parse_percentile_select(
            "SELECT percentile(x, 0.5) AS q FROM t JOIN u ON t.a = u.a"
        )
        is None
    )


def test_sql_percentile_grouped_matches_exact_bands(ctx, lineitem):
    # l_quantity is integer 1..50: probing band CENTERS, KLL k=4096
    # (~0.08% rank error) provably returns the exact band value
    out = (
        ctx.sql(
            "SELECT l_returnflag, percentile(l_quantity, 0.25) AS p25,"
            " percentile(l_quantity, 0.75) AS p75"
            " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
            early_stop=False,
        )
        .toPandas()
    )
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        )
        .orderBy("l_returnflag")
        .toPandas()
    )
    assert out["p25"].round().tolist() == exact["p25"].round().tolist()
    assert out["p75"].round().tolist() == exact["p75"].round().tolist()


def test_sql_percentile_ungrouped_with_where(ctx, lineitem):
    out = ctx.sql(
        "SELECT percentile(l_quantity, 0.49) AS med FROM lineitem"
        " WHERE l_discount > 0.02",
        early_stop=False,
    ).toPandas()
    exact = (
        lineitem.where("l_discount > 0.02")
        .agg(F.expr("percentile(l_quantity, 0.49)").alias("med"))
        .toPandas()
    )
    assert round(out["med"].iloc[0]) == round(exact["med"].iloc[0])


def test_sql_percentile_mixed_with_sum_falls_back_exact(ctx, lineitem, spark):
    # percentile mixed with a plain aggregate is outside the sketch
    # shape AND the progressive shape — contract is exact pass-through
    lineitem.createOrReplaceTempView("lineitem")
    try:
        out = ctx.sql(
            "SELECT percentile(l_quantity, 0.5) AS med, sum(l_quantity) AS s"
            " FROM lineitem"
        ).toPandas()
        exact = lineitem.agg(
            F.expr("percentile(l_quantity, 0.5)").alias("med"),
            F.sum("l_quantity").alias("s"),
        ).toPandas()
        assert out["s"].iloc[0] == exact["s"].iloc[0]
        assert out["med"].iloc[0] == pytest.approx(exact["med"].iloc[0])
    finally:
        spark.catalog.dropTempView("lineitem")


# --------------------------------------------- legacy sample DDL surface
# supported_queries.md: "create [XX%] {uniform|stratified|universe}
# sample of t [on col]", "show samples", "(delete|drop) samples of t"

def test_create_uniform_sample_ddl(spark, tmp_path, lineitem):
    c = VerdictContext(spark, str(tmp_path))
    lineitem.createOrReplaceTempView("li_sampsrc")
    try:
        st = c.sql("CREATE 20% UNIFORM SAMPLE OF li_sampsrc").first()
        assert st["status"] == "created" and st["method"] == "uniform"
        shown = c.sql("SHOW SAMPLES").toPandas()
        assert "li_sampsrc" in set(shown["original_table"])
        # a 20% partial-size scramble still answers correctly (H-T)
        n = c.sql(
            "SELECT count(*) AS n FROM li_sampsrc", early_stop=False
        ).first()["n"]
        assert n == pytest.approx(lineitem.count(), rel=0.15)
        dropped = c.sql("DROP SAMPLES OF li_sampsrc").first()["dropped"]
        assert dropped == 1
        assert c.sql("SHOW SAMPLES").count() == 0
    finally:
        spark.catalog.dropTempView("li_sampsrc")


def test_create_universe_sample_ddl_countdistinct(spark, tmp_path, orders):
    c = VerdictContext(spark, str(tmp_path))
    orders.createOrReplaceTempView("ord_sampsrc")
    try:
        c.sql("CREATE UNIVERSE SAMPLE OF ord_sampsrc ON o_custkey")
        got = c.sql(
            "SELECT count(distinct o_custkey) AS d FROM ord_sampsrc",
            early_stop=False,
        ).first()["d"]
        exact = orders.select("o_custkey").distinct().count()
        assert got == pytest.approx(exact, rel=0.05)
    finally:
        spark.catalog.dropTempView("ord_sampsrc")


def test_create_stratified_sample_ddl_categorical(spark, tmp_path, lineitem):
    # categorical ON column -> group-only fastconverge (no outlier
    # tier); every group survives any block prefix early
    c = VerdictContext(spark, str(tmp_path))
    lineitem.createOrReplaceTempView("li_stratsrc")
    try:
        st = c.sql(
            "CREATE STRATIFIED SAMPLE OF li_stratsrc ON l_returnflag"
        ).first()
        assert st["method"] == "stratified"
        out = c.sql(
            "SELECT l_returnflag, sum(l_quantity) AS s FROM li_stratsrc"
            " GROUP BY l_returnflag",
            early_stop=False,
        ).toPandas()
        exact = (
            lineitem.groupBy("l_returnflag")
            .agg(F.sum("l_quantity").alias("s"))
            .toPandas()
        )
        assert sorted(out["l_returnflag"]) == sorted(exact["l_returnflag"])
        m = out.merge(exact, on="l_returnflag", suffixes=("", "_x"))
        assert m["s"].to_numpy() == pytest.approx(m["s_x"].to_numpy())
    finally:
        spark.catalog.dropTempView("li_stratsrc")


def test_malformed_sample_ddl_raises(spark, tmp_path):
    c = VerdictContext(spark, str(tmp_path))
    with pytest.raises(ValueError):
        c.sql("CREATE 5% SAMPLE FOR sometable")  # FOR is not OF
    spark.range(5).withColumnRenamed("id", "x").createOrReplaceTempView(
        "tiny_samp"
    )
    try:
        with pytest.raises(ValueError, match="ON column"):
            c.sql("CREATE UNIFORM SAMPLE OF tiny_samp ON x")
        with pytest.raises(ValueError, match="ON <column>"):
            c.sql("CREATE UNIVERSE SAMPLE OF tiny_samp")
    finally:
        spark.catalog.dropTempView("tiny_samp")


def test_sql_percentile_all_null_returns_one_null_row(ctx, spark):
    # SQL semantics: an ungrouped aggregate always returns one row —
    # the sketch returns zero; the lazy literal-row left join restores
    # the NULL row without executing the scan twice
    spark.createDataFrame([(None,), (None,)], "x double").createOrReplaceTempView(
        "allnull_pct"
    )
    try:
        out = ctx.sql(
            "SELECT percentile(x, 0.5) AS m FROM allnull_pct",
            early_stop=False,
        ).toPandas()
        assert len(out) == 1 and out["m"].isna().all()
    finally:
        spark.catalog.dropTempView("allnull_pct")


def test_sql_median_alias(ctx, lineitem):
    out = ctx.sql(
        "SELECT median(l_quantity) AS m FROM lineitem", early_stop=False
    ).toPandas()
    exact = lineitem.agg(
        F.expr("percentile(l_quantity, 0.5)").alias("m")
    ).toPandas()
    # l_quantity 1..50: the 0.50 probe can land ON a band edge, so
    # allow the two adjacent integer bands
    assert abs(out["m"].iloc[0] - exact["m"].iloc[0]) <= 1.0


def test_nested_inner_one_shot_without_early_stop(ctx, lineitem, monkeypatch):
    # early_stop=False consumes only the inner's FINAL estimate: the
    # nested path must skip the doubling refinement ladder — "single"
    # (engine pinned to spark) or "probe" (auto engine: 1-block span to
    # arm the engine switch, then the remainder in one span)
    import verdictdb_spark.sampling.progressive as prog

    kinds = []
    orig = prog._schedule

    def spy(nblocks, kind):
        kinds.append(kind)
        return orig(nblocks, kind)

    monkeypatch.setattr(prog, "_schedule", spy)
    out = ctx.sql(
        "SELECT avg(s) AS a FROM (SELECT l_orderkey, sum(l_quantity) AS s"
        " FROM lineitem GROUP BY l_orderkey) t",
        early_stop=False,
    ).toPandas()
    assert kinds and all(k in ("single", "probe") for k in kinds), kinds
    exact = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .agg(F.avg("s").alias("a"))
        .toPandas()
    )
    assert out["a"].iloc[0] == pytest.approx(exact["a"].iloc[0], rel=1e-9)


def test_union_all_trailing_order_by_limit(ctx, spark, lineitem):
    # a trailing ORDER BY/LIMIT scopes to the whole union (SQL) —
    # stripped from the last block and applied to the concatenated
    # frame instead of falling back to exact.  The view backs the
    # arity gate (Catalyst analysis of each side).
    lineitem.createOrReplaceTempView("lineitem")
    out = ctx.sql(
        "SELECT l_returnflag AS g, sum(l_quantity) AS s FROM lineitem"
        " WHERE l_discount > 0.05 GROUP BY l_returnflag"
        " UNION ALL "
        "SELECT l_linestatus AS g, sum(l_quantity) AS s FROM lineitem"
        " WHERE l_discount <= 0.05 GROUP BY l_linestatus"
        " ORDER BY s DESC LIMIT 3",
        early_stop=False,
    ).toPandas()
    a = (
        lineitem.where("l_discount > 0.05")
        .groupBy(F.col("l_returnflag").alias("g"))
        .agg(F.sum("l_quantity").alias("s"))
    )
    b = (
        lineitem.where("l_discount <= 0.05")
        .groupBy(F.col("l_linestatus").alias("g"))
        .agg(F.sum("l_quantity").alias("s"))
    )
    exact = a.union(b).orderBy(F.desc("s")).limit(3).toPandas()
    assert len(out) == 3
    assert list(out["g"]) == list(exact["g"])
    assert out["s"].to_numpy() == pytest.approx(exact["s"].to_numpy())
    # ordinal + ASC variant
    out2 = ctx.sql(
        "SELECT l_returnflag AS g, count(*) AS c FROM lineitem GROUP BY l_returnflag"
        " UNION ALL "
        "SELECT l_linestatus AS g, count(*) AS c FROM lineitem GROUP BY l_linestatus"
        " ORDER BY 2 LIMIT 2",
        early_stop=False,
    ).toPandas()
    spark.catalog.dropTempView("lineitem")
    assert len(out2) == 2 and out2["c"].iloc[0] <= out2["c"].iloc[1]


def test_union_all_mid_block_order_still_falls_back(ctx, spark, lineitem):
    # ORDER BY on a NON-last side is a Spark parse error — the front
    # door must not fabricate an answer (exact fallback raises too)
    from pyspark.errors import ParseException

    lineitem.createOrReplaceTempView("lineitem")
    try:
        with pytest.raises(ParseException):
            ctx.sql(
                "SELECT count(*) AS c FROM lineitem ORDER BY c"
                " UNION ALL SELECT count(*) AS c FROM lineitem"
            ).collect()
    finally:
        spark.catalog.dropTempView("lineitem")


def test_describe_scramble_ddl(ctx):
    out = ctx.sql("DESCRIBE SCRAMBLE lineitem").toPandas()
    props = dict(zip(out["property"], out["value"]))
    assert props["original_table"] == "lineitem"
    assert props["method"] == "uniform" and props["nblocks"] == "6"
    with pytest.raises(KeyError):
        ctx.sql("DESCRIBE SCRAMBLE no_such_scramble")


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_stat_identities_randomized(spark, tmp_path_factory, seed):
    # property-style: random data with nulls in both columns — the
    # sum/count decomposition must reproduce Spark's native aggregates
    # at full coverage for every function in the family
    import numpy as np

    rng = np.random.default_rng(seed)
    n = 400
    x = rng.normal(50, 12, n)
    y = 3 * x + rng.normal(0, 20, n)
    xm = [None if rng.random() < 0.08 else float(v) for v in x]
    ym = [None if rng.random() < 0.08 else float(v) for v in y]
    g = [str(int(v)) for v in rng.integers(0, 3, n)]
    pdf = pd.DataFrame({"g": g, "x": xm, "y": ym})
    df = spark.createDataFrame(pdf)
    c = VerdictContext(
        spark, str(tmp_path_factory.mktemp(f"statprop{seed}"))
    )
    c.create_scramble("randtab", df, method="uniform", nblocks=3, seed=seed)
    out = (
        c.sql(
            "SELECT g, var_pop(x) AS a, var_samp(x) AS b,"
            " stddev_pop(y) AS c, stddev_samp(y) AS d,"
            " covar_pop(x, y) AS e, covar_samp(x, y) AS f,"
            " corr(x, y) AS h FROM randtab GROUP BY g",
            early_stop=False,
        )
        .orderBy("g")
        .toPandas()
    )
    exact = (
        df.groupBy("g")
        .agg(
            F.var_pop("x").alias("a"),
            F.var_samp("x").alias("b"),
            F.stddev_pop("y").alias("c"),
            F.stddev_samp("y").alias("d"),
            F.covar_pop("x", "y").alias("e"),
            F.covar_samp("x", "y").alias("f"),
            F.corr("x", "y").alias("h"),
        )
        .orderBy("g")
        .toPandas()
    )
    for col in ["a", "b", "c", "d", "e", "f", "h"]:
        assert out[col].to_numpy() == pytest.approx(
            exact[col].to_numpy(), rel=1e-7
        ), (col, seed)


def test_stat_aggregates_over_join(jctx, lineitem, orders, spark):
    # variance-family composites over a TWO-SCRAMBLE ripple-cube join
    # (jctx registers scrambles for both sides): the hidden sum/count
    # partials decompose through the join increments and the identity
    # evaluates over the join's estimate frame — full coverage == exact
    orders.createOrReplaceTempView("orders")
    try:
        out = (
            jctx.sql(
                "SELECT o_orderstatus, stddev_pop(l_quantity) AS sd,"
                " corr(l_quantity, l_extendedprice) AS cr"
                " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
                " GROUP BY o_orderstatus ORDER BY o_orderstatus",
                early_stop=False,
            )
            .toPandas()
        )
    finally:
        spark.catalog.dropTempView("orders")
    exact = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.stddev_pop("l_quantity").alias("sd"),
            F.corr("l_quantity", "l_extendedprice").alias("cr"),
        )
        .orderBy("o_orderstatus")
        .toPandas()
    )
    assert out["sd"].to_numpy() == pytest.approx(exact["sd"].to_numpy(), rel=1e-9)
    assert out["cr"].to_numpy() == pytest.approx(exact["cr"].to_numpy(), rel=1e-9)


def test_stream_percentile_refines_to_band_exact(ctx, lineitem):
    # STREAM of a percentile-only SELECT: per-block-span KLL partials
    # merge progressively; the final step reproduces the exact
    # integer-band value (same oracle design as the one-shot path)
    steps = list(
        ctx.stream(
            "SELECT l_returnflag AS f, percentile(l_quantity, 0.25) AS p25"
            " FROM lineitem GROUP BY l_returnflag"
        )
    )
    assert len(steps) > 1
    assert steps[0].coverage < steps[-1].coverage == pytest.approx(1.0)
    final = steps[-1].estimates.sort_values("f").reset_index(drop=True)
    exact = (
        lineitem.groupBy(F.col("l_returnflag").alias("f"))
        .agg(F.expr("percentile(l_quantity, 0.25)").alias("p25"))
        .orderBy("f")
        .toPandas()
    )
    assert final["p25"].round().tolist() == exact["p25"].round().tolist()
    assert list(final.columns) == ["f", "p25"]  # group alias applied


def test_stream_percentile_requires_uniform_scramble(spark, tmp_path, orders):
    # a hash-scramble block prefix is NOT a uniform row sample — the
    # percentile stream refuses and the statement raises Unsupported
    c = VerdictContext(spark, str(tmp_path))
    c.create_scramble("orders", orders, method="hash", column="o_custkey", nblocks=4)
    with pytest.raises(Unsupported):
        list(c.stream("SELECT percentile(o_totalprice, 0.5) AS m FROM orders"))


def test_progressive_quantiles_rejects_nonuniform_meta(spark, tmp_path, lineitem):
    from verdictdb_spark.operators.quantile import progressive_quantiles

    c = VerdictContext(spark, str(tmp_path))
    sdf, meta = c.create_scramble(
        "lineitem", lineitem, method="hash", column="l_orderkey", nblocks=4
    )
    with pytest.raises(ValueError, match="uniform"):
        next(iter(progressive_quantiles(sdf, meta, "l_quantity", [0.5])))


def test_sql_percentile_early_stops_on_uniform_scramble(
    spark, tmp_path, lineitem, monkeypatch
):
    # early_stop=True over a uniform scramble: the KLL sketch builds
    # progressively and stops when consecutive quantile frames agree —
    # the sampling speedup — while still landing in the right band
    import verdictdb_spark.api as api_mod
    import verdictdb_spark.sampling.progressive as prog

    calls = []
    orig = prog.converged

    def spy(prev, cur, *a, **k):
        r = orig(prev, cur, *a, **k)
        calls.append(r)
        return r

    monkeypatch.setattr(api_mod, "converged", spy, raising=False)
    monkeypatch.setattr(prog, "converged", spy)
    c = VerdictContext(spark, str(tmp_path))
    c.create_scramble("li_es", lineitem, method="uniform", nblocks=16, seed=3)
    out = c.sql(
        "SELECT l_returnflag, percentile(l_quantity, 0.49) AS med"
        " FROM li_es GROUP BY l_returnflag"
    ).toPandas()
    assert any(calls), "the stop rule should fire before full coverage"
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_quantity, 0.49)").alias("x"))
        .toPandas()
    )
    m = out.merge(exact, on="l_returnflag")
    assert (abs(m["med"] - m["x"]) <= 1).all()


def test_parse_duplicate_composite_names_fall_back():
    # ADVICE r5: auto-generated composite names (stats expansion,
    # 48-char truncation) could collide — any duplicate select_order
    # entry must raise Unsupported (exact fallback), never silently
    # collapse two output columns onto one name
    from verdictdb_spark.sqlparse import Unsupported, parse_select

    with pytest.raises(Unsupported, match="duplicate"):
        parse_select("SELECT var_pop(x), var_pop(x) FROM t GROUP BY g")
    long_a = "sum(" + "a" * 60 + ") / sum(b)"
    long_b = "sum(" + "a" * 60 + ") / sum(c)"
    with pytest.raises(Unsupported, match="duplicate"):
        parse_select(f"SELECT {long_a}, {long_b} FROM t")
