"""High-cardinality estimate engine: the Spark-side estimator must be
numerically identical to the driver pandas combiner, switch
automatically above the partial-row threshold, and keep the driver's
memory bounded at 10^5 synthetic groups (round-2 verdict item #3 —
the reference's CTAS/temp-table path, ola/SelectAsyncAggExecutionNode)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from verdictdb_spark.sampling import (
    AggSpec,
    approx_agg,
    create_scramble,
    progressive_agg,
)


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").cache()
    yield df
    df.unpersist()


AGGS = [
    AggSpec("sum", "l_quantity", "s"),
    AggSpec("count", None, "c"),
    AggSpec("avg", "l_extendedprice", "a"),
    AggSpec("min", "l_discount", "mn"),
    AggSpec("max", "l_discount", "mx"),
]


def _final(it):
    out = None
    for r in it:
        out = r
    return out


def test_spark_engine_matches_driver_engine_partial(lineitem):
    """Same scramble, same partial prefix: estimates AND error bars
    must agree to fp tolerance between both engines."""
    sdf, meta = create_scramble(lineitem, method="uniform", nblocks=8, seed=2)
    snaps = {}
    for engine in ("driver", "spark"):
        part = None
        for r in progressive_agg(sdf, meta, AGGS, ["l_returnflag"], engine=engine):
            part = r
            if r.blocks_covered >= 4:
                break
        snaps[engine] = part.estimates.sort_values("l_returnflag").reset_index(drop=True)
    d, s = snaps["driver"], snaps["spark"]
    assert sorted(d.columns) == sorted(s.columns)
    for col in d.columns:
        if col == "l_returnflag":
            assert list(d[col]) == list(s[col])
        else:
            assert d[col].to_numpy() == pytest.approx(
                s[col].to_numpy(), rel=1e-9, nan_ok=True
            ), col


def test_spark_engine_full_coverage_exact(lineitem):
    sdf, meta = create_scramble(lineitem, method="uniform", nblocks=6, seed=4)
    res = _final(progressive_agg(sdf, meta, AGGS, ["l_returnflag"], engine="spark"))
    assert res.is_exact
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.avg("l_extendedprice").alias("a"),
            F.min("l_discount").alias("mn"),
            F.max("l_discount").alias("mx"),
        )
        .toPandas()
        .set_index("l_returnflag")
    )
    got = res.estimates.set_index("l_returnflag")
    for flag in exact.index:
        for col in ["s", "c", "a", "mn", "mx"]:
            assert got.loc[flag, col] == pytest.approx(exact.loc[flag, col], rel=1e-9)


def test_spark_engine_fastconverge_tiers(lineitem):
    """Non-uniform per-tier CDFs must scale correctly Spark-side too."""
    from verdictdb_spark.sampling import create_fastconverge_scramble

    sdf, meta = create_fastconverge_scramble(
        lineitem, outlier_column="l_extendedprice",
        group_column="l_returnflag", nblocks=6, seed=3,
    )
    res = _final(
        progressive_agg(
            sdf, meta,
            [AggSpec("sum", "l_quantity", "s"), AggSpec("count", None, "c")],
            ["l_returnflag"], engine="spark",
        )
    )
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .toPandas().set_index("l_returnflag")
    )
    got = res.estimates.set_index("l_returnflag")
    for flag in exact.index:
        assert got.loc[flag, "s"] == pytest.approx(exact.loc[flag, "s"], rel=1e-9)
        assert got.loc[flag, "c"] == pytest.approx(exact.loc[flag, "c"], rel=1e-9)


def test_auto_switches_above_threshold(lineitem):
    """auto with a tiny threshold must produce Spark-side results and
    still be exact at full coverage."""
    sdf, meta = create_scramble(lineitem, method="uniform", nblocks=6, seed=4)
    res = _final(
        progressive_agg(
            sdf, meta, [AggSpec("count", None, "c")], ["l_orderkey"],
            engine="auto", engine_threshold=100,
        )
    )
    assert res.estimates_sdf is not None  # switched off the driver
    exact = lineitem.select("l_orderkey").distinct().count()
    assert res.estimates_sdf.count() == exact


def test_highcard_groupby_1e5_groups(spark):
    """10^5 distinct groups: full coverage == exact per group, errors
    present, driver only ever sees the FINAL O(groups) frame."""
    n, groups = 400_000, 100_000
    df = spark.range(n).select(
        (F.col("id") % groups).alias("g"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    sdf, meta = create_scramble(df, method="uniform", nblocks=8, seed=11, nrows=n)
    res = approx_agg(
        sdf, meta,
        [AggSpec("sum", "v", "sv"), AggSpec("count", None, "c")],
        ["g"], early_stop=False, engine="spark",
    )
    assert res.is_exact
    out = res.estimates_sdf
    exact = df.groupBy("g").agg(F.sum("v").alias("sv_e"), F.count(F.lit(1)).alias("c_e"))
    j = out.join(exact, "g")
    bad = j.where(
        (F.abs(F.col("sv") - F.col("sv_e")) > 1e-6)
        | (F.abs(F.col("c") - F.col("c_e")) > 1e-6)
    ).count()
    assert bad == 0
    assert out.count() == groups


def test_early_stop_spark_engine(spark):
    """converged_sdf: a stable aggregate over a fine scramble stops
    before full coverage under the Spark engine."""
    n = 200_000
    df = spark.range(n).select(
        (F.col("id") % 50_000).alias("g"),
        (F.col("id") % 11).cast("double").alias("v"),
    )
    sdf, meta = create_scramble(df, method="uniform", nblocks=32, seed=5, nrows=n)
    res = approx_agg(
        sdf, meta, [AggSpec("avg", "v", "a")], [], early_stop=True,
        engine="spark", schedule="doubling",
    )
    # uniform v: converges long before 32 blocks
    assert res.blocks_covered < 32
    assert res.estimates["a"].iloc[0] == pytest.approx(5.0, rel=0.05)


def test_spark_engine_errors_match_driver_scalar(lineitem):
    sdf, meta = create_scramble(lineitem, method="uniform", nblocks=8, seed=2)
    outs = {}
    for engine in ("driver", "spark"):
        part = None
        for r in progressive_agg(sdf, meta, AGGS, [], engine=engine):
            part = r
            if r.blocks_covered >= 4:
                break
        outs[engine] = part.estimates
    d, s = outs["driver"], outs["spark"]
    for col in d.columns:
        dv, sv = float(d[col].iloc[0]), float(s[col].iloc[0])
        assert (np.isnan(dv) and np.isnan(sv)) or dv == pytest.approx(sv, rel=1e-9), col


def test_auto_switch_nullable_int_group(spark):
    """Review regression: the auto driver->Spark switch must survive a
    NULL-bearing bigint group column (the pandas round-trip coerced it
    to float64 and crashed createDataFrame; the switch now re-aggregates
    the covered prefix Spark-side)."""
    n = 60_000
    df = spark.range(n).select(
        F.when(F.col("id") % 100 != 0, F.col("id") % 20_000).alias("g"),
        F.lit(1.0).alias("v"),
    )
    sdf, meta = create_scramble(df, method="uniform", nblocks=4, seed=3, nrows=n)
    res = approx_agg(
        sdf, meta, [AggSpec("count", None, "c")], ["g"],
        early_stop=False, engine="auto", engine_threshold=1000,
    )
    assert res.is_exact
    assert res.estimates_sdf is not None
    exact = df.select("g").distinct().count()
    assert res.estimates_sdf.count() == exact


def test_join_spark_engine_matches_driver(lineitem, spark, sf_dir):
    """Scramble-join estimator parity: Spark engine == driver engine
    (values and error bars) at full block-plane coverage."""
    from verdictdb_spark.sampling import approx_join_agg

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s1, m1 = create_scramble(lineitem, method="uniform", nblocks=4, seed=7)
    s2, m2 = create_scramble(orders, method="uniform", nblocks=2, seed=13)
    outs = {}
    for engine in ("driver", "spark"):
        res = approx_join_agg(
            s1, m1, s2, m2, [("l_orderkey", "o_orderkey")],
            [AggSpec("sum", "l_quantity", "s"), AggSpec("count", None, "c"),
             AggSpec("avg", "l_extendedprice", "a")],
            ["o_orderpriority"], early_stop=False, engine=engine,
        )
        assert res.is_exact
        outs[engine] = (
            res.estimates.sort_values("o_orderpriority").reset_index(drop=True)
        )
    d, s = outs["driver"], outs["spark"]
    assert sorted(d.columns) == sorted(s.columns)
    for col in d.columns:
        if col == "o_orderpriority":
            assert list(d[col]) == list(s[col])
        else:
            assert d[col].to_numpy() == pytest.approx(
                s[col].to_numpy(), rel=1e-9, nan_ok=True
            ), col


def test_multi_join_spark_engine_exact(lineitem, spark, sf_dir):
    from verdictdb_spark.sampling import approx_multi_join_agg

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s1 = create_scramble(lineitem, method="uniform", nblocks=4, seed=7)
    s2 = create_scramble(orders, method="uniform", nblocks=2, seed=13)
    s3 = create_scramble(cust, method="uniform", nblocks=2, seed=29)
    res = approx_multi_join_agg(
        [s1, s2, s3],
        [[("l_orderkey", "o_orderkey")], [("o_custkey", "c_custkey")]],
        [AggSpec("sum", "l_quantity", "s"), AggSpec("count", None, "c")],
        ["c_mktsegment"], early_stop=False, engine="spark",
    )
    assert res.is_exact
    exact = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .toPandas().set_index("c_mktsegment")
    )
    got = res.estimates.set_index("c_mktsegment")
    assert set(got.index) == set(exact.index)
    for k in exact.index:
        assert got.loc[k, "s"] == pytest.approx(exact.loc[k, "s"], rel=1e-9)
        assert got.loc[k, "c"] == pytest.approx(exact.loc[k, "c"], rel=1e-9)


def test_join_auto_switch(lineitem, spark, sf_dir):
    """auto engine switches mid-join-progression and stays exact."""
    from verdictdb_spark.sampling import approx_join_agg

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s1, m1 = create_scramble(lineitem, method="uniform", nblocks=4, seed=7)
    s2, m2 = create_scramble(orders, method="uniform", nblocks=2, seed=13)
    res = approx_join_agg(
        s1, m1, s2, m2, [("l_orderkey", "o_orderkey")],
        [AggSpec("count", None, "c")], ["l_orderkey"],
        early_stop=False, engine="auto", engine_threshold=200,
    )
    assert res.is_exact and res.estimates_sdf is not None
    exact = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select("l_orderkey").distinct().count()
    )
    assert res.estimates_sdf.count() == exact


def test_spark_engine_no_convergence_on_empty_prefix(lineitem, spark, sf_dir):
    """Review regression: empty early block-pairs must not be yielded
    as (empty) estimates — the stop rule would 'converge' on nothing.
    A transform that kills side-1 block 0 leaves the first iterations
    empty; early_stop must still reach the real data."""
    from verdictdb_spark.sampling import approx_join_agg
    from verdictdb_spark.sampling.scramble import BLOCK_COL

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s1, m1 = create_scramble(lineitem, method="uniform", nblocks=4, seed=7)
    s2, m2 = create_scramble(orders, method="uniform", nblocks=2, seed=13)

    def drop_block0(df):
        return df.where(F.col(BLOCK_COL) > 0)

    res = approx_join_agg(
        s1, m1, s2, m2, [("l_orderkey", "o_orderkey")],
        [AggSpec("count", None, "c")], [],
        transform=drop_block0, early_stop=True, engine="spark",
    )
    # estimate must reflect actual (non-empty) data, scaled
    assert res.estimates["c"].iloc[0] > 0


def test_probe_schedule_exact_and_projected_switch(lineitem):
    """r6 one-shot optimization internals: schedule="probe" (block 0,
    then the remainder in one span) must (a) stay exact at full
    coverage on the driver engine for small groups, and (b) switch to
    the Spark engine off the PROJECTED full-coverage partial size —
    i.e. after the 1-block first span, BEFORE the second span pulls
    the whole O(groups x blocks) frame through toPandas."""
    sdf, meta = create_scramble(lineitem, method="uniform", nblocks=8, seed=7)
    # (a) small groups: driver engine, exact
    res = approx_agg(
        sdf, meta,
        [AggSpec("sum", "l_quantity", "s"), AggSpec("count", None, "c")],
        ["l_returnflag"], schedule="probe", early_stop=False,
    )
    assert res.is_exact and res.estimates_sdf is None
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .toPandas().set_index("l_returnflag")
    )
    got = res.estimates.set_index("l_returnflag")
    for k in exact.index:
        assert got.loc[k, "s"] == pytest.approx(exact.loc[k, "s"])
        assert got.loc[k, "c"] == pytest.approx(exact.loc[k, "c"])
    # (b) high cardinality + low threshold: the projection must fire on
    # the first (1-block) span — the accumulated count alone would not
    # cross until the second span had already been collected
    res2 = approx_agg(
        sdf, meta, [AggSpec("count", None, "c")], ["l_orderkey"],
        schedule="probe", early_stop=False, engine="auto",
        engine_threshold=2000,
    )
    assert res2.is_exact and res2.estimates_sdf is not None
    assert res2.estimates_sdf.count() == (
        lineitem.select("l_orderkey").distinct().count()
    )


def test_engines_agree_at_partial_coverage_non_uniform(lineitem):
    """Both engines scale by the same per-(tier, block) factors: at 3 of
    8 blocks, on a multi-tier fastconverge scramble (non-uniform
    block_prob) and on a hash scramble with COUNT DISTINCT, grouped and
    ungrouped, every estimate and error agrees and NaN/NULL fall in the
    same cells."""
    from verdictdb_spark.sampling import TIER_COL, create_fastconverge_scramble

    # lineitem has no 3.09-sigma outliers: plant some, so tier 0 holds
    # rows and the tiers pack non-uniformly
    li = lineitem.withColumn(
        "v",
        F.when(F.col("l_orderkey") % 47 == 0, F.col("l_extendedprice") * 100)
        .otherwise(F.col("l_extendedprice")),
    )
    fc = create_fastconverge_scramble(li, outlier_column="v", nblocks=8, seed=3)
    hs = create_scramble(lineitem, method="hash", column="l_orderkey", nblocks=8, seed=5)
    assert fc[0].select(TIER_COL).distinct().count() > 1
    assert len({round(fc[1].block_prob(b, 2), 12) for b in range(8)}) > 1
    cases = [(fc, AGGS), (hs, AGGS + [AggSpec("countdistinct", "l_orderkey", "nd")])]
    for (sdf, m), aggs in cases:
        for gb in ([], ["l_returnflag"]):
            snaps = {}
            for engine in ("driver", "spark"):
                for r in progressive_agg(sdf, m, aggs, gb, engine=engine):
                    if r.blocks_covered >= 3:
                        break
                assert r.blocks_covered == 3 and not r.is_exact
                est = r.estimates
                snaps[engine] = est.sort_values(gb).reset_index(drop=True) if gb else est
            d, s = snaps["driver"], snaps["spark"]
            assert sorted(d.columns) == sorted(s.columns)
            assert {f"{a.alias}_err" for a in aggs} <= set(d.columns)
            assert len(d) == len(s)
            for col in d.columns:
                if col in gb:
                    assert list(d[col]) == list(s[col])
                    continue
                nan_d, nan_s = d[col].isna().to_numpy(), s[col].isna().to_numpy()
                assert (nan_d == nan_s).all(), (m.method, gb, col)
                assert d[col][~nan_d].to_numpy(float) == pytest.approx(
                    s[col][~nan_s].to_numpy(float), rel=1e-9
                ), (m.method, gb, col)


def test_estimator_backends_match_row_loop_reference(spark):
    """Both estimator backends against a row-at-a-time reference: per-row
    scale factors, a dense groups x blocks grid of per-block estimates
    (0 where a group has no rows), ``np.std(ddof=1)``; on a 3-tier
    non-uniform meta read at hi < nblocks - 1."""
    import pandas as pd

    from verdictdb_spark.sampling import BLOCK_COL, TIER_COL, ScrambleMeta
    from verdictdb_spark.sampling.progressive import _estimate, _estimate_spark

    rng = np.random.default_rng(7)
    nblocks, hi, n = 6, 3, 400
    cdf = {}
    for t in range(3):
        w = rng.random(nblocks) + 0.1
        cdf[t] = [float(x) for x in np.cumsum(w) / w.sum()]
    meta = ScrambleMeta("uniform", nblocks, cdf=cdf)
    acc = pd.DataFrame({
        "g": rng.choice(list("abcd"), n),
        TIER_COL: rng.integers(0, 3, n),
        BLOCK_COL: rng.integers(0, hi + 1, n),
        "psum_x": rng.normal(5.0, 2.0, n),
        "pcnt_x": rng.integers(0, 4, n),
        "pcnt_star": rng.integers(1, 5, n),
        "pmax_x": rng.random(n),
    })
    acc = acc[(acc["g"] != "d") | (acc[BLOCK_COL] != 2)]  # a (group, block) hole
    aggs = [
        AggSpec("sum", "x", "s"), AggSpec("count", None, "c"),
        AggSpec("avg", "x", "a"), AggSpec("max", "x", "mx"),
    ]
    blocks = sorted(acc[BLOCK_COL].unique())

    def err(v):
        return 1.96 * np.std(v, ddof=1) / np.sqrt(len(v))

    expect = {}
    for g, rows in acc.groupby("g"):
        srcs = ("psum_x", "pcnt_x", "pcnt_star")
        tot = dict.fromkeys(srcs, 0.0)
        grid = {c: dict.fromkeys(blocks, 0.0) for c in srcs}
        mx: dict = {}
        for r in rows.itertuples(index=False):
            t, b = getattr(r, TIER_COL), getattr(r, BLOCK_COL)
            for c in srcs:
                tot[c] += getattr(r, c) / meta.coverage(hi, t)
                grid[c][b] += getattr(r, c) / meta.block_prob(b, t)
            mx[b] = max(mx.get(b, -np.inf), r.pmax_x)
        ratios = [
            grid["psum_x"][b] / grid["pcnt_x"][b] for b in blocks if grid["pcnt_x"][b] > 0
        ]
        expect[g] = {
            "s": tot["psum_x"], "c": tot["pcnt_star"],
            "a": tot["psum_x"] / tot["pcnt_x"], "mx": max(mx.values()),
            "s_err": err(list(grid["psum_x"].values())),
            "c_err": err(list(grid["pcnt_star"].values())),
            "a_err": err(ratios), "mx_err": err(list(mx.values())),
        }
    outs = {
        "driver": _estimate(acc.reset_index(drop=True), aggs, ["g"], meta, hi),
        "spark": _estimate_spark(
            spark.createDataFrame(acc), aggs, ["g"], meta, hi
        ).toPandas(),
    }
    for backend, out in outs.items():
        got = out.set_index("g")
        assert sorted(got.index) == sorted(expect)
        for g, cols in expect.items():
            for col, v in cols.items():
                assert got.loc[g, col] == pytest.approx(v, rel=1e-9), (backend, g, col)
