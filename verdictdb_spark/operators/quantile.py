"""Approximate quantiles via KLL or t-digest mergeable states.

Answers ``SELECT g, percentile(x, q) FROM t GROUP BY g`` (a
"future supported" aggregate in the reference's docs) with
distributed mergeable states instead of a sort.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sketches.kll import KllSketch
from ..sketches.tdigest import TDigestSketch
from .approx_agg import GROUP_ALL, sketch_agg


def _make_sketch(method: str, k: int, compression: float):
    if method == "kll":
        return KllSketch(k=k)
    if method == "tdigest":
        return TDigestSketch(compression=compression)
    raise ValueError(f"unknown quantile method {method!r}")


def approx_quantiles(
    df: DataFrame,
    col: str | Column,
    probabilities: Sequence[float],
    group_by: Sequence[str] = (),
    method: str = "kll",
    k: int = 256,
    compression: float = 200.0,
    out_col: str = "quantiles",
    fanin: int = 64,
) -> DataFrame:
    """Grouped approximate quantiles -> array<double> column.

    Plan: numeric cast JVM-side -> map-side partial KLL/t-digest per
    (partition x group) -> logarithmic tree merge -> interpolation.
    """
    sketch = _make_sketch(method, k, compression)
    probs = [float(p) for p in probabilities]
    merged = sketch_agg(df, sketch, col, group_by, input_kind="double", fanin=fanin)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _q(states: pd.Series) -> pd.Series:
        return pd.Series([list(sketch.quantiles(sketch.from_bytes(b), probs)) for b in states])

    out = merged.withColumn(out_col, _q(F.col("state"))).drop("state")
    return out.drop(GROUP_ALL) if not group_by else out


def approx_quantiles_wide(
    df: DataFrame,
    col: str | Column,
    probabilities: Sequence[float],
    group_by: Sequence[str] = (),
    names: Sequence[str] | None = None,
    **kwargs,
) -> DataFrame:
    """Grouped approximate quantiles, one SCALAR double column per
    probability (``q25, q50, ...`` by default) — the flat shape that
    sorts/hashes cleanly in result canonicalizers and BI tools."""
    probs = [float(p) for p in probabilities]
    if names is None:
        names = [f"q{round(p * 100):02d}" for p in probs]
    if len(names) != len(probs):
        raise ValueError("names must match probabilities")
    arr = approx_quantiles(df, col, probs, group_by, out_col="_qarr", **kwargs)
    cols = list(group_by) + [F.col("_qarr")[i].alias(n) for i, n in enumerate(names)]
    return arr.select(*cols)


def quantile_sketch_table(
    df: DataFrame,
    col: str | Column,
    group_by: Sequence[str] = (),
    method: str = "kll",
    k: int = 256,
    compression: float = 200.0,
) -> DataFrame:
    """Merged quantile states for persistence / incremental merge."""
    return sketch_agg(df, _make_sketch(method, k, compression), col, group_by, input_kind="double")


def progressive_quantiles(
    scramble: DataFrame,
    meta,
    col: str | Column,
    probabilities: Sequence[float],
    group_by: Sequence[str] = (),
    names: Sequence[str] | None = None,
    method: str = "kll",
    k: int = 4096,
    compression: float = 200.0,
    schedule: str = "doubling",
):
    """Progressive grouped quantiles over a UNIFORM scramble: one
    mergeable sketch pass per NEW block span, merged into the
    accumulated per-group states (KLL/t-digest merge is associative),
    yielding a refined :class:`ProgressiveResult` per step — the
    VerdictDB progressive model applied to the reference's declared
    ``percentile(col, p)`` surface.

    Sampling validity: a block prefix of a UNIFORM scramble is a
    uniform row sample, whose sample quantile is a consistent
    estimator of the population quantile; hash/fastconverge prefixes
    have unequal inclusion probabilities, for which an unweighted
    sketch is biased — those raise.

    Scale shape: each step scans ONLY the new blocks
    (partition-pruned), the accumulated state is one KB-sized row per
    group (localCheckpointed so prior blocks are never rescanned),
    and the cross-step merge is a 2-way tree_merge round.
    """
    from ..sampling.progressive import ProgressiveResult, _schedule
    from ..sampling.scramble import BLOCK_COL
    from .approx_agg import sketch_agg, tree_merge

    if meta.method != "uniform":
        raise ValueError(
            "progressive quantiles need a uniform scramble (a block "
            f"prefix of a {meta.method!r} scramble is not a uniform "
            "row sample)"
        )
    sketch = _make_sketch(method, k, compression)
    probs = [float(p) for p in probabilities]
    if names is None:
        names = [f"q{round(p * 100):02d}" for p in probs]
    if len(names) != len(probs):
        raise ValueError("names must match probabilities")

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _q(states: pd.Series) -> pd.Series:
        return pd.Series(
            [list(sketch.quantiles(sketch.from_bytes(b), probs)) for b in states]
        )

    acc: DataFrame | None = None
    for it, [(lo, hi)] in enumerate(_schedule([meta.nblocks], schedule)):
        batch = scramble.where(F.col(BLOCK_COL).between(lo, hi))
        span = sketch_agg(batch, sketch, col, group_by, input_kind="double")
        if acc is None:
            merged = span
        else:
            both = acc.withColumn("part_id", F.lit(0)).unionByName(
                span.withColumn("part_id", F.lit(1))
            )
            merged = tree_merge(both, sketch, group_by, n_partials_hint=2)
        # materialize: per-group KB states only; prior blocks are done
        acc = merged.localCheckpoint(eager=True)
        out = acc.withColumn("_qarr", _q(F.col("state"))).select(
            *list(group_by),
            *[F.col("_qarr")[i].alias(n) for i, n in enumerate(names)],
        )
        cov = meta.coverage(hi, 0)
        yield ProgressiveResult(
            estimates_sdf=out,
            coverage=cov,
            blocks_covered=hi + 1,
            iteration=it,
            # KLL at full coverage is rank-error-bounded, never exact
            is_exact=False,
        )
