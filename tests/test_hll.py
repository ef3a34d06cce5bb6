"""HLL: unit math, error bound vs exact oracle, merge associativity.

Mirrors the reference's oracle style (exact answer comparison,
``SparkTpchSelectQueryCoordinatorTest.java:108-170``) plus the
statistical-bound assertions its north_star demands.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from verdictdb_spark.sketches.hll import HllSketch
from verdictdb_spark.operators.distinct import approx_count_distinct_by
from verdictdb_spark.operators.approx_agg import build_partials, tree_merge, finalize


def test_hll_numpy_exactness_small():
    sk = HllSketch(p=12)
    rng = np.random.default_rng(7)
    vals = rng.integers(-(2**63), 2**63, size=100, dtype=np.int64)
    st = sk.build(vals)
    # linear-counting regime: near-exact for tiny n
    assert abs(sk.estimate(st) - len(np.unique(vals))) <= 2


@pytest.mark.parametrize("n", [1_000, 50_000])
def test_hll_error_bound_numpy(n):
    sk = HllSketch(p=12)
    rng = np.random.default_rng(42)
    vals = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
    exact = len(np.unique(vals))
    est = sk.estimate(sk.build(vals))
    # 1.04/sqrt(2^12) ~ 1.625%; allow 4 sigma
    assert abs(est - exact) / exact <= 4 * sk.error_bound()


def test_hll_merge_is_max_and_associative():
    sk = HllSketch(p=10)
    rng = np.random.default_rng(1)
    chunks = [rng.integers(-(2**63), 2**63, size=500, dtype=np.int64) for _ in range(8)]
    states = [sk.build(c) for c in chunks]
    # fold in three different orders / tree shapes -> bit-identical
    import functools

    left = functools.reduce(sk.merge, states)
    right = functools.reduce(sk.merge, states[::-1])
    pair = sk.merge(
        sk.merge(sk.merge(states[0], states[3]), sk.merge(states[6], states[1])),
        sk.merge(sk.merge(states[2], states[7]), sk.merge(states[4], states[5])),
    )
    assert np.array_equal(left, right) and np.array_equal(left, pair)
    whole = sk.build(np.concatenate(chunks))
    assert np.array_equal(left, whole)


def test_hll_serialization_roundtrip():
    sk = HllSketch(p=12)
    st = sk.build(np.arange(1000, dtype=np.int64))
    assert np.array_equal(sk.from_bytes(sk.to_bytes(st)), st)


def test_grouped_hll_vs_exact(spark, files_df):
    got = (
        approx_count_distinct_by(files_df, "content", ["repo", "lang"], p=12)
        .toPandas()
        .set_index(["repo", "lang"])["approx_ndv"]
    )
    exact = (
        files_df.groupBy("repo", "lang")
        .agg(F.countDistinct("content").alias("ndv"))
        .toPandas()
        .set_index(["repo", "lang"])["ndv"]
    )
    assert set(got.index) == set(exact.index)
    # relative bound for large groups; +-2 absolute for tiny cardinalities
    # (linear-counting register birthday collisions on ndv ~ 10 groups)
    bound = 4 * HllSketch(p=12).error_bound() + 0.01
    err = (got - exact).abs()
    ok = (err / exact <= bound) | (err <= 2.0)
    assert ok.all(), (err / exact).sort_values().tail()


def test_grouped_hll_global(spark, files_df):
    got = approx_count_distinct_by(files_df, "content", [], p=13).collect()
    assert len(got) == 1
    exact = files_df.select(F.countDistinct("content")).first()[0]
    assert abs(got[0]["approx_ndv"] - exact) / exact <= 4 * HllSketch(p=13).error_bound()


def test_partition_order_invariance(spark, files_df):
    """Merge associativity across arbitrary partition orderings (north_rule)."""
    sk = HllSketch(p=11)
    results = []
    for seed in (1, 2):
        shuffled = files_df.repartition(7, F.pmod(F.xxhash64("path", F.lit(seed)), F.lit(7)))
        merged = tree_merge(
            build_partials(shuffled, sk, "content", ["lang"]), sk, ["lang"], fanin=2,
            n_partials_hint=7,
        )
        pdf = finalize(merged, sk, "ndv", "double").toPandas().set_index("lang")["ndv"]
        results.append(pdf)
    assert (results[0].sort_index() == results[1].sort_index()).all()


def test_hll_partials_match_a_per_group_build_across_arrow_batches(spark):
    # 16-row Arrow batches: each (partition, group) partial accumulates
    # over many batches, and its state and lineage must equal a build
    # over that group's rows of the partition, checksum by a plain loop
    import operator
    from functools import reduce

    df = spark.range(400).select(
        (F.col("id") % 7).alias("g"), (F.col("id") * 31 % 101).alias("v")
    ).repartition(3, "v")
    want: dict = {}
    rows = df.select("g", F.spark_partition_id().alias("pid"), F.xxhash64("v").alias("h"))
    for r in rows.collect():
        want.setdefault((r["pid"], r["g"]), []).append(r["h"])
    sk = HllSketch(p=8)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        got = build_partials(df, sk, "v", ["g"]).collect()
    finally:
        spark.conf.set(key, old)
    assert {(r["part_id"], r["g"]) for r in got} == set(want)
    for r in got:
        hs = want[(r["part_id"], r["g"])]
        assert r["n_rows"] == len(hs)
        assert r["checksum"] == reduce(operator.xor, hs, 0)
        assert bytes(r["state"]) == sk.to_bytes(sk.build(np.array(hs, dtype=np.int64)))
