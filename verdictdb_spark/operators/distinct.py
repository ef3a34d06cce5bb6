"""Approximate COUNT(DISTINCT) — the flagship VerdictDB-class query.

Answers ``SELECT g..., COUNT(DISTINCT c) FROM t GROUP BY g...`` via a
mergeable HLL state per group (reference path:
``ScrambleTableReplacer.java:133-180`` hash-scramble substitution +
``SparkSyntax.getApproximateCountDistinct:132-134``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

import pandas as pd
from pyspark.sql import functions as F

from ..sketches.hll import HllSketch
from .approx_agg import GROUP_ALL, estimate_finisher, finalize, sketch_agg  # noqa: F401

# ``finalize`` stays importable here: it answers persisted HLL state
# frames, and perfbench's tracer wraps ``distinct.finalize``


def approx_count_distinct_by(
    df: DataFrame,
    col: str | Column,
    group_by: Sequence[str] = (),
    p: int = 12,
    out_col: str = "approx_ndv",
    fanin: int = 64,
) -> DataFrame:
    """Grouped approximate distinct count with rel. std. error 1.04/sqrt(2^p).

    Plan shape: JVM xxhash64 -> map-side partial HLLs (mapInPandas,
    no raw-row shuffle) -> logarithmic tree merge of 2^p-byte states
    whose last round also estimates.  Survives 10^12 rows because
    only states shuffle.
    """
    sketch = HllSketch(p=p)
    finish = estimate_finisher(sketch, out_col, T.DoubleType())
    return sketch_agg(df, sketch, col, group_by, input_kind="hash", fanin=fanin, finish=finish)


def hll_sketch_table(
    df: DataFrame,
    col: str | Column,
    group_by: Sequence[str] = (),
    p: int = 12,
) -> DataFrame:
    """Return merged HLL states (group cols + state binary) for persistence
    / later incremental merge — the sketch analogue of a scramble table."""
    return sketch_agg(df, HllSketch(p=p), col, group_by, input_kind="hash")


def hll_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str | Column,
    group_by: Sequence[str] = (),
    p: int = 12,
) -> DataFrame:
    """Distinct-set algebra between two tables from their HLL sketches:
    per group, ``ndv_a``, ``ndv_b``, ``ndv_union`` (bit-exact register
    max-merge), ``ndv_intersection`` (inclusion-exclusion, clipped at
    0) and ``jaccard`` = intersection/union.

    The 100-TB use case is train/test CONTAMINATION estimation: how
    many distinct documents/contents two corpus slices share, without
    ever joining them — two sketch builds (one scan each, KB states
    shuffle) and a tiny state-pair join.  Inclusion-exclusion error is
    ~3x the single-sketch bound (1.04/sqrt(2^p)) relative to the UNION
    size, so small true overlaps need larger p.
    """
    sketch = HllSketch(p=p)
    gcols = list(group_by)
    sa = sketch_agg(df_a, sketch, col, gcols, input_kind="hash").withColumnRenamed(
        "state", "_sta"
    )
    sb = sketch_agg(df_b, sketch, col, gcols, input_kind="hash").withColumnRenamed(
        "state", "_stb"
    )
    on = gcols if gcols else [GROUP_ALL]
    # null-safe group join: a NULL-keyed group on both sides is the
    # same stratum (plain equi-join would keep them as separate rows)
    from ..hashing import null_safe_group_key

    sa = sa.withColumn("_gk", null_safe_group_key(*[sa[c] for c in on]))
    sb = sb.withColumn("_gk", null_safe_group_key(*[sb[c] for c in on])).withColumnsRenamed(
        {c: f"_b_{c}" for c in on}
    )
    joined = sa.join(sb, "_gk", "full_outer").select(
        *[F.coalesce(sa[c], sb[f"_b_{c}"]).alias(c) for c in on], "_sta", "_stb"
    )

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("ndv_a", T.DoubleType()),
                T.StructField("ndv_b", T.DoubleType()),
                T.StructField("ndv_union", T.DoubleType()),
                T.StructField("ndv_intersection", T.DoubleType()),
                T.StructField("jaccard", T.DoubleType()),
            ]
        )
    )
    def _algebra(sta: pd.Series, stb: pd.Series) -> pd.DataFrame:
        rows = []
        for ba, bb in zip(sta, stb):
            a = sketch.from_bytes(ba) if ba is not None else sketch.empty()
            b = sketch.from_bytes(bb) if bb is not None else sketch.empty()
            na = sketch.estimate(a)
            nb = sketch.estimate(b)
            nu = sketch.estimate(sketch.merge(a, b))
            ni = max(na + nb - nu, 0.0)
            rows.append((na, nb, nu, ni, ni / nu if nu > 0 else 0.0))
        return pd.DataFrame(
            rows, columns=["ndv_a", "ndv_b", "ndv_union", "ndv_intersection", "jaccard"]
        )

    out = joined.withColumn("_alg", _algebra("_sta", "_stb")).select(
        *gcols, "_alg.*"
    )
    return out
