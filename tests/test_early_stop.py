"""The one early-stop rule (``progressive.converged``) and the one fold
(``progressive.fold_progressive``): both estimate engines stop alike,
and a snapshot that estimates nothing never stops a run."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verdictdb_spark.sampling import (
    AggSpec,
    ProgressiveResult,
    ScrambleMeta,
    approx_agg,
    converged,
    create_scramble,
)
from verdictdb_spark.sampling.scramble import BLOCK_COL, TIER_COL


@pytest.mark.parametrize("schedule", ["linear", "doubling"])
def test_driver_and_spark_engines_stop_alike(spark, schedule):
    n = 40_000
    df = spark.range(n).select(
        "id", (F.col("id") % 3).alias("g"), (F.col("id") % 11).cast("double").alias("v")
    )
    sdf, meta = create_scramble(df, method="uniform", nblocks=32, seed=5, nrows=n)
    aggs = [AggSpec("avg", "v", "a"), AggSpec("count", None, "c")]
    runs = {
        engine: approx_agg(sdf, meta, aggs, ["g"], schedule=schedule, engine=engine)
        for engine in ("driver", "spark")
    }
    d, s = runs["driver"], runs["spark"]
    assert d.estimates_sdf is None and s.estimates_sdf is not None
    assert d.blocks_covered < 32  # the rule fired, not the end of the scramble
    assert (d.iteration, d.blocks_covered) == (s.iteration, s.blocks_covered)
    m = d.estimates.merge(s.estimates, on="g", suffixes=("_d", "_s"))
    assert len(m) == len(d.estimates) == len(s.estimates) == 3
    for col in ("a", "c", "a_err", "c_err"):
        np.testing.assert_allclose(m[f"{col}_d"], m[f"{col}_s"], rtol=1e-9)


def _snapshots(spark, pdf: pd.DataFrame, schema: str) -> dict:
    """The one frame as a driver snapshot and as a Spark-only one."""
    return {
        "driver": ProgressiveResult(estimates=pdf),
        "spark": ProgressiveResult(estimates_sdf=spark.createDataFrame(pdf, schema)),
    }


@pytest.mark.parametrize("engine", ["driver", "spark"])
def test_empty_and_all_null_snapshots_never_converge(spark, engine):
    grouped = "g long, v double"
    cases = {
        "empty": (pd.DataFrame({"g": pd.Series([], dtype="int64"), "v": pd.Series([], dtype="float64")}), grouped, ["g"]),
        "all_null": (pd.DataFrame({"g": [1, 2], "v": [np.nan, np.nan]}), grouped, ["g"]),
        "all_null_scalar": (pd.DataFrame({"v": [np.nan]}), "v double", []),
    }
    for name, (pdf, schema, gb) in cases.items():
        a, b = (_snapshots(spark, pdf, schema)[engine] for _ in range(2))
        assert not converged(a, b, gb, ["v"]), name
    # the same shapes with estimates do converge, so the rule is live
    live = pd.DataFrame({"g": [1, 2], "v": [1.0, np.nan]})
    a, b = (_snapshots(spark, live, grouped)[engine] for _ in range(2))
    assert converged(a, b, ["g"], ["v"])


def test_snapshots_across_an_engine_switch_never_converge(spark):
    snaps = _snapshots(spark, pd.DataFrame({"v": [1.0]}), "v double")
    assert not converged(snaps["driver"], snaps["spark"], [], ["v"])
    assert not converged(snaps["spark"], snaps["driver"], [], ["v"])
    _ = snaps["spark"].estimates  # collected, it is still a Spark snapshot
    assert not converged(snaps["driver"], snaps["spark"], [], ["v"])
    assert converged(snaps["spark"], snaps["spark"], [], ["v"])


@pytest.mark.parametrize("engine", ["driver", "spark"])
def test_sum_over_a_null_prefix_does_not_stop_on_null(spark, engine):
    # blocks 0-2 hold only NULL x, blocks 3-7 a constant: the first two
    # snapshots both estimate NULL, which is no agreement
    n, nblocks = 4000, 8
    block = (F.col("id") % nblocks).cast("int")
    sdf = spark.range(n).select(
        F.when(block >= 3, F.lit(1.0)).alias("x"),
        F.lit(0).alias(TIER_COL),
        block.alias(BLOCK_COL),
    )
    meta = ScrambleMeta(method="uniform", nblocks=nblocks, original_count=n)
    res = approx_agg(
        sdf, meta, [AggSpec("sum", "x", "s")], [], schedule="linear", engine=engine
    )
    s = res.estimates["s"].iloc[0]
    assert res.blocks_covered > 3 and s == s  # past the NULL prefix, not NaN
    assert s == pytest.approx(n * 5 / 8, rel=0.25)
