"""Scramble ⋈ scramble progressive joins (the reference's ripple /
hyper-table cubes, ola/HyperTableCube.java + OlaAggregationPlan.java):
full coverage == exact, coverage-product scaling mid-run, aligned
hash-scramble count-distinct, and the correctness guard rails."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from verdictdb_spark.api import VerdictContext
from verdictdb_spark.sampling import (
    BLOCK_COL,
    TIER_COL,
    AggSpec,
    create_scramble,
    approx_join_agg,
    is_aligned,
    create_fastconverge_scramble,
    progressive_agg,
    progressive_join_agg,
    progressive_multi_join_agg,
)
from verdictdb_spark.sampling.progressive import _schedule, _slabs


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return li, o


def test_spans_cover_plane_once():
    for n1, n2 in [(6, 4), (1, 1), (8, 8), (3, 10)]:
        seen = set()
        for (lo1, hi1), (lo2, hi2) in _schedule([n1, n2], "doubling"):
            new1 = set(range(lo1, hi1 + 1))
            old1 = set(range(0, lo1))
            new2 = set(range(lo2, hi2 + 1))
            old2 = set(range(0, lo2))
            inc = {(a, b) for a in new1 for b in old2 | new2} | {
                (a, b) for a in old1 for b in new2
            }
            assert not (seen & inc), "block pair joined twice"
            seen |= inc
        assert seen == {(a, b) for a in range(n1) for b in range(n2)}
    # the one ladder names its schedules: an unknown name (or the
    # one-scramble-only "linear" on a join) raises instead of silently
    # meaning "doubling"
    for ns, kind in [
        ([6], "zigzag"), ([6], "Doubling"), ([6, 4], "linear"),
        ([4, 3, 2], "linear"), ([4, 3, 2], "exponential"),
    ]:
        with pytest.raises(ValueError, match="unknown schedule"):
            _schedule(ns, kind)


def test_join_full_coverage_exact(spark, tables):
    li, o = tables
    s1, m1 = create_scramble(li, method="uniform", nblocks=6, seed=7)
    s2, m2 = create_scramble(o, method="uniform", nblocks=4, seed=13)
    aggs = [
        AggSpec("sum", "l_quantity", "sum_qty"),
        AggSpec("count", None, "cnt"),
        AggSpec("avg", "l_extendedprice", "avg_px"),
        AggSpec("max", "l_discount", "max_d"),
    ]
    results = list(
        progressive_join_agg(
            s1, m1, s2, m2, [("l_orderkey", "o_orderkey")], aggs,
            group_by=["o_orderpriority"],
        )
    )
    assert results[-1].is_exact and results[-1].coverage == pytest.approx(1.0)
    final = results[-1].estimates.sort_values("o_orderpriority").reset_index(drop=True)
    exact = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
            F.avg("l_extendedprice").alias("avg_px"),
            F.max("l_discount").alias("max_d"),
        )
        .toPandas()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)
    )
    for c in ("sum_qty", "cnt", "avg_px", "max_d"):
        assert np.allclose(final[c].astype(float), exact[c].astype(float), rtol=1e-9), c
    # mid-run: sane coverage-product scaled estimate with error bars
    mid = results[len(results) // 2]
    assert 0 < mid.coverage < 1
    assert "sum_qty_err" in mid.estimates.columns
    tot_exact = exact["sum_qty"].sum()
    assert abs(mid.estimates["sum_qty"].sum() - tot_exact) / tot_exact < 0.5


def test_aligned_hash_join_countdistinct(spark, tables):
    li, o = tables
    s1, m1 = create_scramble(li, method="hash", column="l_orderkey", nblocks=5, seed=21)
    s2, m2 = create_scramble(o, method="hash", column="o_orderkey", nblocks=5, seed=21)
    on = [("l_orderkey", "o_orderkey")]
    assert is_aligned(m1, m2, on)
    results = list(
        progressive_join_agg(
            s1, m1, s2, m2, on,
            [AggSpec("countdistinct", "l_orderkey", "ndv"), AggSpec("sum", "l_quantity", "sq")],
        )
    )
    exact = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.countDistinct("l_orderkey").alias("n"), F.sum("l_quantity").alias("s"))
        .first()
    )
    assert results[-1].is_exact
    assert results[-1].estimates["ndv"].iloc[0] == pytest.approx(exact["n"])
    assert results[-1].estimates["sq"].iloc[0] == pytest.approx(float(exact["s"]))
    # partial-coverage NDV is a universe-fraction H-T estimate
    first = results[0]
    assert first.coverage < 1
    assert abs(first.estimates["ndv"].iloc[0] - exact["n"]) / exact["n"] < 0.5


def test_countdistinct_requires_aligned(spark, tables):
    li, o = tables
    s1, m1 = create_scramble(li, method="uniform", nblocks=4, seed=1)
    s2, m2 = create_scramble(o, method="uniform", nblocks=4, seed=2)
    with pytest.raises(ValueError, match="ALIGNED hash"):
        list(
            progressive_join_agg(
                s1, m1, s2, m2, [("l_orderkey", "o_orderkey")],
                [AggSpec("countdistinct", "l_orderkey", "ndv")],
            )
        )


def test_misaligned_seeds_not_aligned(spark, tables):
    li, o = tables
    _, m1 = create_scramble(li, method="hash", column="l_orderkey", nblocks=5, seed=1)
    _, m2 = create_scramble(o, method="hash", column="o_orderkey", nblocks=5, seed=2)
    assert not is_aligned(m1, m2, [("l_orderkey", "o_orderkey")])


def test_mid_run_estimates_within_error_bars(spark, tables):
    """Across independent scramble seeds, the 95% error bars on the
    half-coverage sum estimate cover the truth most of the time."""
    li, o = tables
    exact = float(
        li.join(o, li.l_orderkey == o.o_orderkey).agg(F.sum("l_quantity")).first()[0]
    )
    hits = 0
    seeds = [(3, 17), (5, 23), (11, 29), (13, 31)]
    for sd1, sd2 in seeds:
        s1, m1 = create_scramble(li, method="uniform", nblocks=8, seed=sd1)
        s2, m2 = create_scramble(o, method="uniform", nblocks=8, seed=sd2)
        mids = list(
            progressive_join_agg(
                s1, m1, s2, m2, [("l_orderkey", "o_orderkey")],
                [AggSpec("sum", "l_quantity", "sq")],
            )
        )
        r = mids[-2]  # half coverage on both sides
        est, err = r.estimates["sq"].iloc[0], r.estimates["sq_err"].iloc[0]
        if abs(est - exact) <= 2 * err:
            hits += 1
    assert hits >= len(seeds) - 1, f"error bars missed truth too often ({hits}/{len(seeds)})"


def test_front_door_approx_join(spark, tmp_path, tables):
    li, o = tables
    ctx = VerdictContext(spark, str(tmp_path))
    ctx.create_scramble("lineitem", li, method="uniform", nblocks=6, seed=7)
    ctx.create_scramble("orders", o, method="uniform", nblocks=4, seed=13)
    res = ctx.approx_join(
        "lineitem", "orders", [("l_orderkey", "o_orderkey")],
        [AggSpec("count", None, "cnt")],
        group_by=["o_orderstatus"],
        early_stop=False,
    )
    exact = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus").count().toPandas()
        .sort_values("o_orderstatus").reset_index(drop=True)
    )
    got = res.estimates.sort_values("o_orderstatus").reset_index(drop=True)
    assert np.allclose(got["cnt"].astype(float), exact["count"].astype(float))


def test_join_with_transform_dim(spark, sf_dir, tables):
    """transform() on the joined increment: broadcast-dim filter."""
    li, o = tables
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    s1, m1 = create_scramble(li, method="uniform", nblocks=4, seed=7)
    s2, m2 = create_scramble(o, method="uniform", nblocks=3, seed=13)

    def tf(joined):
        return joined.join(F.broadcast(cust), joined.o_custkey == cust.c_custkey)

    res = approx_join_agg(
        s1, m1, s2, m2, [("l_orderkey", "o_orderkey")],
        [AggSpec("sum", "l_quantity", "sq")], transform=tf, early_stop=False,
    )
    exact = float(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .agg(F.sum("l_quantity")).first()[0]
    )
    assert res.estimates["sq"].iloc[0] == pytest.approx(exact)


def test_aligned_requires_same_join_pair(spark, tables):
    """Hash columns on DIFFERENT join pairs hash different values —
    blocks would not match, so the join must NOT be treated aligned."""
    li, o = tables
    _, m1 = create_scramble(li, method="hash", column="l_orderkey", nblocks=5, seed=21)
    _, m2 = create_scramble(o, method="hash", column="o_custkey", nblocks=5, seed=21)
    on = [("l_orderkey", "o_orderkey"), ("l_suppkey", "o_custkey")]
    # l_orderkey pairs with o_orderkey (not o_custkey): not aligned
    assert not is_aligned(m1, m2, on)
    # and the true pair IS aligned
    _, m3 = create_scramble(o, method="hash", column="o_orderkey", nblocks=5, seed=21)
    assert is_aligned(m1, m3, [("l_orderkey", "o_orderkey")])


def test_multi_spans_slabs_cover_hypercube_once():
    import itertools

    for ns in ([4, 3, 5], [1, 1, 1], [8, 2, 4], [2, 2]):
        seen = set()
        for spans in _schedule(ns, "doubling"):
            for ranges in _slabs(spans):
                cells = set(
                    itertools.product(*[range(lo, hi + 1) for lo, hi in ranges])
                )
                assert not (seen & cells), (ns, spans, ranges)
                seen |= cells
        assert seen == set(itertools.product(*[range(n) for n in ns])), ns


def test_three_way_chain_join_full_coverage_exact(spark, sf_dir, tables):
    li, o = tables
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s1 = create_scramble(li, method="uniform", nblocks=4, seed=7)
    s2 = create_scramble(o, method="uniform", nblocks=3, seed=13)
    s3 = create_scramble(c, method="uniform", nblocks=2, seed=29)
    res = list(
        progressive_multi_join_agg(
            [s1, s2, s3],
            [[("l_orderkey", "o_orderkey")], [("o_custkey", "c_custkey")]],
            [
                AggSpec("sum", "l_quantity", "sq"),
                AggSpec("count", None, "cnt"),
                AggSpec("avg", "l_extendedprice", "ap"),
            ],
            group_by=["c_mktsegment"],
        )
    )
    assert res[-1].is_exact
    final = res[-1].estimates.sort_values("c_mktsegment").reset_index(drop=True)
    exact = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("l_quantity").alias("sq"),
            F.count(F.lit(1)).alias("cnt"),
            F.avg("l_extendedprice").alias("ap"),
        )
        .toPandas().sort_values("c_mktsegment").reset_index(drop=True)
    )
    for col in ("sq", "cnt", "ap"):
        assert np.allclose(final[col].astype(float), exact[col].astype(float), rtol=1e-9)
    # error bars present; mid-run coverage-product estimate is sane
    mid = res[len(res) // 2]
    assert 0 < mid.coverage < 1 and "sq_err" in mid.estimates.columns
    tot = exact["sq"].sum()
    assert abs(mid.estimates["sq"].sum() - tot) / tot < 0.5


def test_multi_join_rejects_countdistinct(spark, sf_dir, tables):
    li, o = tables
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = [
        create_scramble(li, nblocks=2, seed=1),
        create_scramble(o, nblocks=2, seed=2),
        create_scramble(c, nblocks=2, seed=3),
    ]
    with pytest.raises(ValueError, match="countdistinct unsupported"):
        list(
            progressive_multi_join_agg(
                s,
                [[("l_orderkey", "o_orderkey")], [("o_custkey", "c_custkey")]],
                [AggSpec("countdistinct", "l_orderkey", "nd")],
            )
        )


# ------------------------------------------- one block-space driver
@pytest.fixture(scope="module")
def shapes(spark, sf_dir, tables):
    """The five block-space shapes of the progressive driver, each as a
    ``schedule -> iterator`` factory over count(*)."""
    li, o = tables
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    u1 = create_scramble(li, method="uniform", nblocks=6, seed=7)
    fc1 = create_fastconverge_scramble(
        li, "l_extendedprice", "l_returnflag", nblocks=6, seed=3
    )
    o2 = create_scramble(o, method="uniform", nblocks=4, seed=13)
    h1 = create_scramble(li, method="hash", column="l_orderkey", nblocks=5, seed=21)
    h2 = create_scramble(o, method="hash", column="o_orderkey", nblocks=5, seed=21)
    l3 = create_scramble(li, method="uniform", nblocks=4, seed=7)
    o3 = create_scramble(o, method="uniform", nblocks=3, seed=13)
    c3 = create_scramble(c, method="uniform", nblocks=2, seed=29)
    on = [("l_orderkey", "o_orderkey")]
    cnt = [AggSpec("count", None, "n")]
    return {
        "uniform": lambda sch: progressive_agg(*u1, cnt, schedule=sch),
        "fastconverge": lambda sch: progressive_agg(*fc1, cnt, schedule=sch),
        "join2": lambda sch: progressive_join_agg(*u1, *o2, on, cnt, schedule=sch),
        "aligned2": lambda sch: progressive_join_agg(*h1, *h2, on, cnt, schedule=sch),
        "chain3": lambda sch: progressive_multi_join_agg(
            [l3, o3, c3], [on, [("o_custkey", "c_custkey")]], cnt, schedule=sch
        ),
    }


# (coverage, blocks_covered, is_exact) per yield.  One scramble of 6
# blocks grows 1 -> 3 -> 6; joins grow every side 1 -> 2 -> 4 ...
# (capped per side) and report the coverage product — except aligned
# hash scrambles, whose inclusion is one event (side 1's coverage).
_SPAN_CONTRACT = {
    ("uniform", "doubling"): [(1 / 6, 1, False), (3 / 6, 3, False), (1.0, 6, True)],
    ("uniform", "probe"): [(1 / 6, 1, False), (1.0, 6, True)],
    ("uniform", "single"): [(1.0, 6, True)],
    ("fastconverge", "doubling"): [(1 / 6, 1, False), (3 / 6, 3, False), (1.0, 6, True)],
    ("fastconverge", "probe"): [(1 / 6, 1, False), (1.0, 6, True)],
    ("fastconverge", "single"): [(1.0, 6, True)],
    ("join2", "doubling"): [
        (1 / 24, 2, False), (4 / 24, 4, False), (16 / 24, 8, False), (1.0, 10, True),
    ],
    ("join2", "probe"): [(1 / 24, 2, False), (1.0, 10, True)],
    ("join2", "single"): [(1.0, 10, True)],
    ("aligned2", "doubling"): [
        (1 / 5, 2, False), (2 / 5, 4, False), (4 / 5, 8, False), (1.0, 10, True),
    ],
    ("aligned2", "probe"): [(1 / 5, 2, False), (1.0, 10, True)],
    ("aligned2", "single"): [(1.0, 10, True)],
    ("chain3", "doubling"): [(1 / 24, 3, False), (8 / 24, 6, False), (1.0, 9, True)],
    ("chain3", "probe"): [(1 / 24, 3, False), (1.0, 9, True)],
    ("chain3", "single"): [(1.0, 9, True)],
}


@pytest.mark.parametrize("shape,schedule", list(_SPAN_CONTRACT))
def test_span_contract(shapes, shape, schedule):
    """Every shape of the one driver keeps its span ladder: the
    (coverage, blocks_covered, is_exact) sequence of its yields, with
    exactness exactly at full coverage."""
    got = [
        (r.coverage, r.blocks_covered, r.is_exact) for r in shapes[shape](schedule)
    ]
    want = _SPAN_CONTRACT[shape, schedule]
    assert [(b, e) for _, b, e in got] == [(b, e) for _, b, e in want]
    assert [c for c, _, _ in got] == pytest.approx([c for c, _, _ in want], rel=1e-12)


def test_join_engine_switch_projects_by_block_plane(tables):
    """The auto engine projects full-coverage partial rows as rows / the
    covered share of the whole block plane.  Partials are keyed by
    block1 only, but grouped by the FK a group's rows need its order's
    block2 as well, so projecting by side 1's share alone under-projects
    by 1/cov2: at the probe's (0, 0) cell the side-1 projection sits
    below the threshold while the full partial table is above it.  The
    plane projection must fire on the FIRST span."""
    li, o = tables
    s1, m1 = create_scramble(li, method="uniform", nblocks=4, seed=7)
    s2, m2 = create_scramble(o, method="uniform", nblocks=4, seed=13)
    threshold = 2000
    j = s1.join(
        s2.withColumnRenamed(TIER_COL, "t2").withColumnRenamed(BLOCK_COL, "b2"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    keys = ["l_orderkey", TIER_COL, BLOCK_COL, "t2"]
    full = j.select(*keys).distinct().count()
    cell = j.where((F.col(BLOCK_COL) == 0) & (F.col("b2") == 0))
    first_rows = cell.select(*keys).distinct().count()
    # side-1 projection < threshold < full partial rows (and the plane
    # projection first_rows * 16 is above it)
    assert first_rows * 4 < threshold < full
    first = next(
        progressive_join_agg(
            s1, m1, s2, m2, [("l_orderkey", "o_orderkey")],
            [AggSpec("count", None, "c")], ["l_orderkey"],
            engine="auto", engine_threshold=threshold, schedule="probe",
        )
    )
    assert first.blocks_covered == 2 and first.estimates_sdf is not None
