"""Scramble + progressive aggregation tests.

Mirror of the reference's workhorse oracle
(SparkTpchSelectQueryCoordinatorTest.java:108-170): run the
progressive stream on a scrambled TPC-H table and assert the FINAL
(full-coverage) iteration equals the exact answer; intermediate
iterations are sane; count-distinct requires the hash-scramble rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verdictdb_spark.sampling import (
    AggSpec,
    ScrambleMeta,
    approx_agg,
    create_scramble,
    load_scramble,
    progressive_agg,
    recommended_block_count,
    write_scramble,
)


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").cache()


@pytest.fixture(scope="module")
def li_scramble(lineitem):
    df, meta = create_scramble(lineitem, method="uniform", nblocks=10, seed=7)
    return df.cache(), meta


def test_block_count_policy():
    assert recommended_block_count(10) == 1
    assert recommended_block_count(5_000_000) == 5
    assert recommended_block_count(10**12) == 100  # max clamp


def test_scramble_is_deterministic_and_uniform(lineitem):
    df1, m1 = create_scramble(lineitem, nblocks=10, seed=7)
    df2, _ = create_scramble(lineitem, nblocks=10, seed=7)
    c1 = df1.groupBy("verdictdbblock").count().toPandas().set_index("verdictdbblock")["count"]
    c2 = df2.groupBy("verdictdbblock").count().toPandas().set_index("verdictdbblock")["count"]
    assert (c1.sort_index() == c2.sort_index()).all()  # deterministic
    assert len(c1) == 10
    # roughly uniform blocks (chi-square-ish sanity: within 20% of mean)
    assert (np.abs(c1 - c1.mean()) / c1.mean() < 0.2).all()


def test_empty_table_raises(spark, lineitem):
    with pytest.raises(ValueError, match="empty"):
        create_scramble(lineitem.where(F.lit(False)))


def test_full_coverage_is_exact(lineitem, li_scramble):
    """The reference's core oracle: final progressive iteration == exact."""
    sdf, meta = li_scramble
    aggs = [
        AggSpec("sum", "l_quantity", "sum_qty"),
        AggSpec("count", None, "cnt"),
        AggSpec("avg", "l_extendedprice", "avg_price"),
        AggSpec("min", "l_discount", "min_disc"),
        AggSpec("max", "l_discount", "max_disc"),
    ]
    results = list(progressive_agg(sdf, meta, aggs, ["l_returnflag"]))
    assert len(results) == 4  # doubling schedule over 10 blocks: 1,2,4,3
    final = results[-1]
    assert final.is_exact and final.coverage == 1.0
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.min("l_discount").alias("min_disc"),
            F.max("l_discount").alias("max_disc"),
        )
        .toPandas()
        .sort_values("l_returnflag")
        .reset_index(drop=True)
    )
    got = final.estimates.sort_values("l_returnflag").reset_index(drop=True)
    for c in ["sum_qty", "cnt", "avg_price", "min_disc", "max_disc"]:
        np.testing.assert_allclose(got[c].astype(float), exact[c].astype(float), rtol=1e-9)


def test_intermediate_estimates_within_sampling_error(lineitem, li_scramble):
    sdf, meta = li_scramble
    aggs = [AggSpec("sum", "l_extendedprice", "rev"), AggSpec("count", None, "cnt")]
    results = list(progressive_agg(sdf, meta, aggs, []))
    exact_rev = lineitem.agg(F.sum("l_extendedprice")).first()[0]
    for r in results:
        rel = abs(r.estimates["rev"].iloc[0] - exact_rev) / exact_rev
        assert rel < 0.15, (r.coverage, rel)  # uniform blocks are good samples
        if r.blocks_covered > 1:
            assert np.isfinite(r.estimates["rev_err"].iloc[0])
    # error shrinks with coverage
    errs = [r.estimates["rev_err"].iloc[0] for r in results if r.blocks_covered > 1]
    assert errs[-1] <= errs[0]


def test_early_stop(lineitem, li_scramble):
    sdf, meta = li_scramble
    res = approx_agg(sdf, meta, [AggSpec("avg", "l_quantity", "aq")], [], schedule="linear")
    assert res.blocks_covered <= meta.nblocks
    exact = lineitem.agg(F.avg("l_quantity")).first()[0]
    assert abs(res.estimates["aq"].iloc[0] - exact) / exact < 0.05


def test_countdistinct_needs_hash_scramble(lineitem, li_scramble):
    sdf, meta = li_scramble  # uniform — must be rejected
    with pytest.raises(ValueError, match="hash scramble"):
        list(progressive_agg(sdf, meta, [AggSpec("countdistinct", "l_orderkey", "nd")], []))


def test_countdistinct_on_hash_scramble_exact_at_full_coverage(lineitem):
    sdf, meta = create_scramble(lineitem, method="hash", column="l_orderkey", nblocks=8)
    results = list(
        progressive_agg(sdf, meta, [AggSpec("countdistinct", "l_orderkey", "nd")], [])
    )
    exact = lineitem.select(F.countDistinct("l_orderkey")).first()[0]
    assert results[-1].estimates["nd"].iloc[0] == pytest.approx(exact)
    # intermediate universe-sample estimates within ~15%
    for r in results:
        assert abs(r.estimates["nd"].iloc[0] - exact) / exact < 0.15


def test_write_load_roundtrip(tmp_path, lineitem, spark):
    sdf, meta = create_scramble(lineitem.limit(1000), nblocks=4, seed=1)
    path = str(tmp_path / "scr")
    write_scramble(sdf, meta, path)
    df2, meta2 = load_scramble(spark, path)
    assert meta2.nblocks == 4 and meta2.method == "uniform"
    assert df2.count() == 1000
    # block prefix scan prunes partitions (file-level)
    plan = df2.where(F.col("verdictdbblock") <= 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "verdictdbblock" in plan.split("PartitionFilters")[1]
    assert df2.where(F.col("verdictdbblock") <= 1).count() < 1000


def test_load_cache_drops_other_applications(tmp_path, lineitem, spark, sf_dir):
    """The per-application handle caches (scramble loads, base tables)
    drop every other application's keys on insert: a long-lived driver
    that cycles sessions does not accumulate dead handles."""
    from verdictdb_spark import queries
    from verdictdb_spark.sampling import scramble

    sdf, meta = create_scramble(lineitem.limit(200), nblocks=2, seed=1)
    path = str(tmp_path / "scr")
    write_scramble(sdf, meta, path)
    stale = ("app-stopped-long-ago", str(tmp_path / "old"))
    scramble._LOAD_CACHE[stale] = object()
    load_scramble(spark, path)
    assert stale not in scramble._LOAD_CACHE
    app = spark.sparkContext.applicationId
    assert set(k[0] for k in scramble._LOAD_CACHE) == {app}

    stale_t = ("app-stopped-long-ago", sf_dir, "orders")
    queries._T_CACHE[stale_t] = object()
    queries._t(spark, sf_dir, "nation")
    assert stale_t not in queries._T_CACHE
    assert set(k[0] for k in queries._T_CACHE) == {app}


def test_meta_json_roundtrip():
    m = ScrambleMeta(method="hash", nblocks=5, hash_column="x", seed=3, original_count=100)
    m2 = ScrambleMeta.from_json(m.to_json())
    assert m2 == m
