"""Physical-plan audits — the 100 TB properties, asserted on .explain output.

These tests pin the *plan shape*, not timing: filters reach the
parquet scan, column pruning works, small dims broadcast, top-k
avoids a global sort, the sketch path never shuffles raw rows, and
block-prefix scans prune partitions of a written scramble.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from verdictdb_spark.operators.distinct import approx_count_distinct_by
from verdictdb_spark.operators.similarity import cosine_top_k
from verdictdb_spark.queries import q3_shipping_priority, q1_pricing_summary


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_column_pushdown(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1998-09-01").select("l_returnflag", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan schema only carries what's needed
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_q3_broadcasts_customer(spark, sf_dir):
    plan = _plan(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q1_whole_stage_codegen(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    plan = _plan(df)
    # classic partial/final decomposition, no Python in the hot path
    assert "HashAggregate" in plan and "partial_sum" in plan
    assert "BatchEvalPython" not in plan
    df.collect()  # AQE finalizes the plan; codegen markers appear
    final = _plan(df)
    # whole-stage codegen prints as "*(n)" stage markers in the final plan
    assert "*(1)" in final, final[:500]


def test_topk_no_global_sort(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.withColumn("x", F.col("vec_id") * 2).orderBy(F.desc("x")).limit(5)
    assert "TakeOrderedAndProject" in _plan(q)
    qq = cosine_top_k(emb, "embedding", [0.0] * 64, k=5, id_col="vec_id")
    assert "TakeOrderedAndProject" in _plan(qq)


def test_join_increment_prunes_both_scrambles(spark, sf_dir, tmp_path):
    """Each scramble-join increment is a partition-pruned file scan on
    BOTH sides: the L-slice filters (block BETWEEN lo AND hi) must land
    in the parquet PartitionFilters of the two written scrambles."""
    from verdictdb_spark.sampling import create_scramble, load_scramble, write_scramble
    from verdictdb_spark.sampling.scramble import BLOCK_COL

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(2000)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(1000)
    s1, m1 = create_scramble(li, method="uniform", nblocks=4, seed=7)
    s2, m2 = create_scramble(o, method="uniform", nblocks=4, seed=13)
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_scramble(s1, m1, p1)
    write_scramble(s2, m2, p2)
    d1, _ = load_scramble(spark, p1)
    d2, _ = load_scramble(spark, p2)
    d2 = d2.withColumnRenamed(BLOCK_COL, "_b2").withColumnRenamed("verdictdbtier", "_t2")
    inc = d1.where(F.col(BLOCK_COL).between(0, 1)).join(
        d2.where(F.col("_b2").between(0, 1)), d1["l_orderkey"] == d2["o_orderkey"]
    )
    plan = _plan(inc)
    prunes = [seg for seg in plan.split("PartitionFilters: [")[1:]]
    assert len(prunes) == 2, f"expected two pruned scans:\n{plan}"
    assert any("verdictdbblock" in s.split("]")[0] for s in prunes)
    assert any("_b2" in s.split("]")[0] or "verdictdbblock" in s.split("]")[0] for s in prunes)


def test_sketch_path_shuffles_only_states(spark, sf_dir):
    """Raw rows must never shuffle: every Exchange in the sketch plan
    sits ABOVE (is printed before) the partial-build mapInPandas, so
    its payload is (group, state) rows, not input rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = approx_count_distinct_by(docs, "text", ["lang"], p=12)
    plan = _plan(out)
    lines = plan.splitlines()
    build_line = max(i for i, l in enumerate(lines) if "MapInPandas" in l)
    below = "\n".join(lines[build_line + 1 :])
    assert "Exchange" not in below, f"raw-row shuffle detected:\n{plan}"
    exchanges = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert exchanges and all(i < build_line for i in exchanges)


def test_spark_engine_estimator_all_jvm(spark, sf_dir, tmp_path):
    """The high-cardinality estimate path (partials -> H-T totals +
    closed-form errors) must be pure JVM aggregation: no Python eval
    anywhere, and the per-iteration partial scan of a written scramble
    stays partition-pruned."""
    from verdictdb_spark.sampling import (
        AggSpec,
        create_scramble,
        load_scramble,
        write_scramble,
    )
    from verdictdb_spark.sampling.progressive import (
        _estimate_spark,
        _partial_exprs,
    )
    from verdictdb_spark.sampling.scramble import BLOCK_COL, TIER_COL

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(4000)
    s, m = create_scramble(li, method="uniform", nblocks=4, seed=7)
    p = str(tmp_path / "s")
    write_scramble(s, m, p)
    d, m = load_scramble(spark, p)
    aggs = [AggSpec("sum", "l_quantity", "sq"), AggSpec("count", None, "c")]
    partials = (
        d.where(F.col(BLOCK_COL).between(0, 1))
        .groupBy("l_orderkey", TIER_COL, BLOCK_COL)
        .agg(*_partial_exprs(aggs))
    )
    est = _estimate_spark(partials, aggs, ["l_orderkey"], m, 1)
    plan = _plan(est)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "HashAggregate" in plan
    assert "PartitionFilters: [" in plan  # block-prefix scan pruned


def test_front_door_left_and_semi_joins_broadcast(spark, sf_dir, tmp_path):
    """Round-4 front-door paths keep the 100 TB shape: a LEFT-joined
    dimension broadcasts (BroadcastHashJoin LeftOuter), a WHERE-IN
    subquery becomes a (broadcastable) LeftSemi join, and no Python
    appears in the per-block transform plan."""
    from verdictdb_spark.api import VerdictContext
    from verdictdb_spark.sampling.scramble import BLOCK_COL

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    ctx = VerdictContext(spark, str(tmp_path))
    sdf, meta = ctx.create_scramble("lineitem", li, method="uniform", nblocks=4, seed=2)
    plan = ctx._plan(
        "SELECT l_returnflag, count(*) AS c, count(o_orderkey) AS m "
        "FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000) "
        "GROUP BY l_returnflag"
    )
    tf = ctx._transform_of(plan)
    batch = tf(sdf.where(F.col(BLOCK_COL) == 0))
    batch.collect()  # AQE finalizes join strategies
    text = batch._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in text
    assert "LeftOuter" in text
    assert "LeftSemi" in text
    assert "BroadcastHashJoin" in text


def test_percentile_plan_pruned_and_pushed(spark, sf_dir, tmp_path):
    """The KLL percentile front door keeps the 100 TB scan shape: the
    parquet read prunes to exactly the referenced columns and the
    WHERE predicate pushes down to the scan; the only Python stages
    are the Arrow-batched sketch UDAF levels."""
    from verdictdb_spark.api import VerdictContext

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ctx = VerdictContext(spark, str(tmp_path))
    ctx.create_scramble("lineitem", li, method="uniform", nblocks=4, seed=2)
    df = ctx.sql(
        "SELECT l_returnflag, percentile(l_quantity, 0.49) AS p"
        " FROM lineitem WHERE l_discount > 0.02 GROUP BY l_returnflag",
        early_stop=False,
    )
    text = df._jdf.queryExecution().executedPlan().toString()
    for rs in [
        seg.split("\n", 1)[0] for seg in text.split("ReadSchema: ")[1:]
    ]:
        assert "l_extendedprice" not in rs and "l_shipdate" not in rs
        assert "l_quantity" in rs
    assert "GreaterThan(l_discount,0.02)" in text  # pushed to parquet
    assert "BatchEvalPython" not in text  # Arrow-batched UDAF only


def test_sketch_queries_are_build_then_merge_and_finish(spark, sf_dir):
    """HLL NDV, KLL quantiles and CMS top-k each run exactly two Python
    stages — the partial build and the last merge round, which also
    finishes — with no per-row Python UDF, no grouped-map stage and,
    for top-k, no join of candidates to states."""
    from verdictdb_spark.operators.frequency import approx_top_k
    from verdictdb_spark.operators.quantile import approx_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for name, out in (
        ("hll", approx_count_distinct_by(docs, "text", ["lang"], p=12)),
        ("kll", approx_quantiles(docs, F.length("text"), [0.5], ["lang"])),
        ("topk", approx_top_k(docs, "lang", k=3)),
    ):
        plan = _plan(out)
        assert plan.count("MapInPandas") == 2, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)
        assert "FlatMapGroupsInPandas" not in plan, (name, plan)
        if name == "topk":
            assert "Join" not in plan, plan
