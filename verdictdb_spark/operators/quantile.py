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
from . import approx_agg  # build_partials/merge_with_states looked up at call time
from .approx_agg import Finisher, sketch_agg


def _quantile_finisher(sketch, probs: list[float], out_col: str, keep_state: bool = False) -> Finisher:
    """``tree_merge`` finisher: each group's quantiles as an
    array<double> ``out_col`` (plus its merged ``state`` bytes when
    ``keep_state``, for a caller that merges more partials in later)."""
    fields = [T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    if keep_state:
        fields.insert(0, T.StructField("state", T.BinaryType()))

    def fn(keys: pd.DataFrame, states: list) -> pd.DataFrame:
        cols = {"state": [sketch.to_bytes(st) for st in states]} if keep_state else {}
        cols[out_col] = [list(sketch.quantiles(st, probs)) for st in states]
        return keys.assign(**cols)

    return fields, fn


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
    (partition x group) -> logarithmic tree merge whose last round
    also interpolates.
    """
    sketch = _make_sketch(method, k, compression)
    probs = [float(p) for p in probabilities]
    finish = _quantile_finisher(sketch, probs, out_col)
    return sketch_agg(df, sketch, col, group_by, input_kind="double", fanin=fanin, finish=finish)


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
    (partition-pruned) and merges their partials with the accumulated
    per-group states in ONE merge round, which also interpolates; the
    step's frame — one KB-sized state plus its quantiles per group —
    is localCheckpointed, so prior blocks are never rescanned and the
    step's answer is a plain read of that checkpoint.
    """
    from ..sampling.progressive import ProgressiveResult, _schedule
    from ..sampling.scramble import BLOCK_COL

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
    gcols = list(group_by)
    finish = _quantile_finisher(sketch, probs, "_qarr", keep_state=True)

    acc: DataFrame | None = None
    for it, [(lo, hi)] in enumerate(_schedule([meta.nblocks], schedule)):
        batch = scramble.where(F.col(BLOCK_COL).between(lo, hi))
        parts = approx_agg.build_partials(batch, sketch, col, gcols, input_kind="double")
        # materialize: per-group KB states only; prior blocks are done
        acc = approx_agg.merge_with_states(parts, acc, sketch, gcols, finish=finish)
        acc = acc.localCheckpoint(eager=True)
        out = acc.select(
            *gcols, *[F.col("_qarr")[i].alias(n) for i, n in enumerate(names)]
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
