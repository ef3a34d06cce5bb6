"""Progressive approximate aggregation over one block space.

Rebuild of the reference's async/OLA path: block-restricted partial
aggregates (``ola/AsyncQueryExecutionPlan.convertToProgressiveAgg:
149-340``), pairwise/tree combination of partials
(``AggCombinerExecutionNode.composeUnionQuery:116-184`` — SUM the
sum/count partials, MAX/MIN the extremes), Horvitz-Thompson inverse-
probability scaling per tier coverage (``AsyncAggExecutionNode.
createQuery:236-311``, ``AggMeta.computeScaleFactors:92-105``), avg
reconstructed as sum/count (``replaceColumnWithAggMeta:565-639``),
and a difference-based early stop (2% per value / 5% group count,
``QueryResultAccuracyEstimatorFromDifference.java:35-40``).

One driver, ``_progress``, plans every progressive aggregate over a
d-dimensional block space, as the reference does
(``ola/HyperTableCube.java:69-106``): a single scramble is d=1, a
chain join of N scrambles is the N-dimensional hyper-table cube.  Per
schedule step it joins only the NEW disjoint slabs of the covered
block box (each slab a partition-pruned scan per side), producing a
tiny per-(group, tier, block) partial table.  ``progressive_agg``
here and the join entry points in ``join.py`` are signature adapters
over it.

One estimator turns that table into estimates and error bars, with two
backends for the one algorithm: level 1 groups the partials by
(group, block), level 2 by group, and both backends read the same
per-aggregate table, scale factors and error formula.  The driver
backend collects the partials to pandas — the analogue of the
reference's in-memory H2 combiner (``ola/InMemoryAggregate.java:
36-273``); for high-cardinality group-bys the table stays a DataFrame
and the same two levels run as Spark aggregations.  Inclusion
probabilities multiply across independent scrambles
(``ola/AggMeta.java:149-185``); ``_BlockSpaceMeta`` presents the
product to the estimator as one scramble.  Full coverage =>
exact (scale factor 1.0), the reference's own oracle
(SparkTpchSelectQueryCoordinatorTest).

COUNT(DISTINCT c) is only legal on a hash scramble on c: the block
id is a function of hash(c), so each distinct value lands in exactly
one block, per-block exact NDV partials are disjoint, and SUM is the
correct combiner — the same correctness rule the reference enforces
(``SelectQueryCoordinator.ensureScrambleCorrectness:189-238``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .scramble import BLOCK_COL, TIER_COL, ScrambleMeta

SUMLIKE = {"sum", "count", "countdistinct"}
EXTREME = {"min", "max"}


@dataclass(frozen=True)
class AggSpec:
    op: str  # sum | count | avg | min | max | countdistinct
    col: str | None  # None => count(*)
    alias: str

    def __post_init__(self):
        if self.op not in SUMLIKE | EXTREME | {"avg"}:
            raise ValueError(f"unsupported aggregate {self.op!r}")
        if self.op != "count" and self.col is None:
            raise ValueError(f"{self.op} requires a column")


class ProgressiveResult:
    """Progressive estimate snapshot.

    ``estimates`` is the pandas frame (group cols + alias cols +
    ``<alias>_err``).  Under the Spark estimate engine (high-cardinality
    group-bys) the estimate lives in ``estimates_sdf`` and ``estimates``
    materializes it lazily — callers that never touch ``.estimates``
    (e.g. writing the result out with Spark) keep the whole pipeline
    distributed."""

    def __init__(
        self,
        estimates: pd.DataFrame | None = None,
        coverage: float = 0.0,
        blocks_covered: int = 0,
        iteration: int = 0,
        is_exact: bool = False,
        estimates_sdf: DataFrame | None = None,
    ):
        if estimates is None and estimates_sdf is None:
            raise ValueError("need estimates or estimates_sdf")
        self._pdf = estimates
        self.estimates_sdf = estimates_sdf
        self.coverage = coverage
        self.blocks_covered = blocks_covered
        self.iteration = iteration
        self.is_exact = is_exact

    @property
    def estimates(self) -> pd.DataFrame:
        if self._pdf is None:
            self._pdf = self.estimates_sdf.toPandas()
        return self._pdf

    def renamed(self, mapping: dict[str, str]) -> "ProgressiveResult":
        """Copy with estimate columns renamed (whichever engine holds
        them) — every other field carries over."""
        if not mapping:
            return self
        out = ProgressiveResult.__new__(ProgressiveResult)
        out.__dict__.update(self.__dict__)
        if self.estimates_sdf is not None:
            out.estimates_sdf = self.estimates_sdf.withColumnsRenamed(mapping)
            out._pdf = None if self._pdf is None else self._pdf.rename(columns=mapping)
        else:
            out._pdf = self._pdf.rename(columns=mapping)
        return out


def _validate(aggs: Sequence[AggSpec], meta: ScrambleMeta) -> None:
    for a in aggs:
        if a.op == "countdistinct" and (
            meta.method != "hash" or meta.hash_column != a.col
        ):
            raise ValueError(
                f"countdistinct({a.col}) requires a hash scramble on {a.col!r} "
                f"(got method={meta.method}, hash_column={meta.hash_column}) — "
                "the reference enforces the same rule "
                "(SelectQueryCoordinator.ensureScrambleCorrectness)"
            )


def _schedule(ns: Sequence[int], kind: str) -> list[list[tuple[int, int]]]:
    """The span ladder over a block space of per-side block counts
    ``ns``: per iteration, one (lo, hi) per side, where lo is that
    side's first NEW block and hi its covered prefix end (lo > hi: the
    side gained nothing this iteration).

    * ``doubling`` — geometric coverage growth (few Spark jobs).  One
      scramble grows its prefix 1 -> 3 -> 7 -> 15 blocks (each span
      twice the previous one); a join grows every side's prefix
      1 -> 2 -> 4 -> 8.
    * ``linear`` — the reference's one-block-per-iteration stream; one
      scramble only.
    * ``single`` — one span over every block: the one-shot mode for
      callers that consume only the FINAL estimate — one scan, one
      partial aggregation, one estimate.
    * ``probe`` — block 0 (the origin cell) alone, then everything
      else.  The final-only mode for the AUTO engine: the 1-cell first
      span bounds the driver partial frame and arms the engine switch
      BEFORE the full box is pulled, while the remainder still scans
      in one step."""
    if kind == "single" or (kind == "probe" and all(n <= 1 for n in ns)):
        return [[(0, n - 1) for n in ns]]
    if kind == "probe":
        return [[(0, 0) for _ in ns], [(1, n - 1) for n in ns]]
    if kind == "linear" and len(ns) == 1:
        return [[(i, i)] for i in range(ns[0])]
    if kind != "doubling":
        raise ValueError(
            f"unknown schedule {kind!r} for {len(ns)} scramble(s): expected "
            + ("doubling, linear, probe or single" if len(ns) == 1
               else "doubling, probe or single")
        )
    spans, prev, p = [], [0] * len(ns), 1
    while any(pv < n for pv, n in zip(prev, ns)):
        cur = [min(p, n) for n in ns]
        spans.append([(pv, c - 1) for pv, c in zip(prev, cur)])
        prev, p = cur, 2 * p + 1 if len(ns) == 1 else 2 * p
    return spans


# The estimator: one algorithm, two backends.  Level 1 groups the
# (group, tier, block) partials by (group, block).  Per sum-like
# partial c it sums S_c = c * scale(tier), c's share of the
# Horvitz-Thompson total, and V_c = c * invp(tier, block), the block's
# own estimate of that total; per extreme, V_c is the block's min/max.
# Level 2 groups by group: the totals (sum of S_, min/max of V_) and
# the subsample errors over the per-block V_ -- the reference derives
# both from one scaling query over the same partials
# (AsyncAggExecutionNode.createQuery:236-311,
# SingleAggResultRewriter.java:203-281).  ``_estimate`` runs it in
# pandas on the driver, ``_estimate_spark`` as two Spark aggregations.

_PREFIX = {
    "sum": "psum_", "count": "pcnt_", "countdistinct": "pndv_",
    "min": "pmin_", "max": "pmax_",
}
_PARTIAL = {
    "psum_": F.sum,
    "pcnt_": lambda c: F.count(F.lit(1) if c is None else c),
    "pndv_": F.countDistinct,
    "pmin_": F.min,
    "pmax_": F.max,
}


def _sources(a: AggSpec) -> list[str]:
    """The partial columns aggregate ``a`` reads: avg is sum / count
    (createUnfoldSelectlistWithBasicAgg:664-826) with count(col), not
    count(*), as SQL AVG ignores NULLs; every other aggregate reads its
    own partial."""
    if a.op == "avg":
        return [f"psum_{a.col}", f"pcnt_{a.col}"]
    return [_PREFIX[a.op] + ("star" if a.col is None else a.col)]


def _partial_exprs(aggs: Sequence[AggSpec]) -> list:
    """The mergeable per-(group, tier, block) partials of ``aggs``;
    count(*) is always there (variance + group weights)."""
    exprs: dict = {}
    for a in aggs:
        for name in _sources(a):
            exprs.setdefault(name, _PARTIAL[name[:5]](a.col))
    exprs.setdefault("pcnt_star", F.count(F.lit(1)))
    return [e.alias(name) for name, e in exprs.items()]


def _agg_table(aggs: Sequence[AggSpec]) -> list[tuple[str, list[str], str]]:
    """Per aggregate: (alias, source partials, error kind).  ``closed``:
    the spread of the per-block estimates of a sum-like total over all
    ``nb`` blocks; ``spread``: the spread over the blocks where the
    group was observed, of avg's per-block ratio or of the per-block
    extreme (a stability heuristic, the reference's uniform subsample
    treatment)."""
    return [
        (a.alias, _sources(a), "closed" if a.op in SUMLIKE else "spread")
        for a in aggs
    ]


def _value(srcs: list[str], get):
    """An aggregate's value from its sources (pandas Series or Spark
    Columns alike): avg's ratio, else the one source."""
    v = get(srcs[0])
    return v / get(srcs[1]) if len(srcs) > 1 else v


def _split_partials(columns) -> tuple[list[str], dict[str, str]]:
    """(sum-like partial columns, {extreme partial column: min|max})."""
    sums = [c for c in columns if c.startswith(("psum_", "pcnt_", "pndv_"))]
    exts = {c: c[1:4] for c in columns if c.startswith(("pmin_", "pmax_"))}
    return sums, exts


def _scale_factors(pairs: list[tuple[int, int]], meta, hi_block: int):
    """Per distinct (tier, block) pair of a partial table: the
    Horvitz-Thompson scale 1/coverage(hi_block, tier)
    (``AggMeta.computeScaleFactors:92-105``) and the single-block scale
    1/block_prob(block, tier).  The latter is the inverse CDF INCREMENT,
    not nblocks, so fastconverge and partial-size scrambles stay
    calibrated.  Also returns nb, the number of blocks present."""
    scale = [1.0 / meta.coverage(hi_block, t) for t, _ in pairs]
    invp = [1.0 / meta.block_prob(b, t) for t, b in pairs]
    return len({b for _, b in pairs}), scale, invp


def _closed_err(s1, s2, nb: int, sqrt, pos):
    """1.96 x the standard error of ``nb`` per-block estimates from their
    sum ``s1`` and sum of squares ``s2``, ddof=1.  Blocks where the
    group has no rows are implicit zeros: real observations of 0 that
    must enter the variance, here without a dense groups x blocks fill
    (O(nnz) memory at 10^6 groups)."""
    mean = s1 / nb
    return 1.96 * sqrt(pos((s2 - nb * (mean * mean)) / (nb - 1)) / nb)


def _spread_err(std, n, sqrt):
    """1.96 x std / sqrt(n) over the n blocks that observed the group."""
    return 1.96 * std / sqrt(n)


def _estimate(
    acc: pd.DataFrame,
    aggs: Sequence[AggSpec],
    group_by: list[str],
    meta: ScrambleMeta,
    hi_block: int,
) -> pd.DataFrame:
    """The estimator in pandas, on the driver (the reference's in-memory
    combiner, ``ola/InMemoryAggregate.java``).  Columns: group keys,
    the estimates, then their ``_err`` (none while nb <= 1)."""
    sums, exts = _split_partials(acc.columns)
    tier = acc[TIER_COL].to_numpy(np.int64)
    block = acc[BLOCK_COL].to_numpy(np.int64)
    m = int(block.max()) + 1
    codes, keys = pd.factorize(tier * m + block)
    nb, scale, invp = _scale_factors(
        [divmod(int(k), m) for k in keys], meta, hi_block
    )
    scale, invp = np.take(scale, codes), np.take(invp, codes)
    # pandas sums only-NaN to 0; K_ counts the non-NULL partials of a
    # sum with NULLs, so an all-NULL group's SUM is NULL, as in Spark
    holes = [c for c in sums if acc[c].isna().any()]
    per = (
        acc[group_by + [BLOCK_COL]]
        .assign(
            **{f"S_{c}": acc[c].to_numpy() * scale for c in sums},
            **{f"V_{c}": acc[c].to_numpy() * invp for c in sums},
            **{f"V_{c}": acc[c] for c in exts},
            **{f"K_{c}": acc[c].notna() for c in holes},
        )
        .groupby(group_by + [BLOCK_COL], dropna=False, sort=False)
        .agg({f"S_{c}": "sum" for c in sums} | {f"V_{c}": "sum" for c in sums}
             | {f"V_{c}": how for c, how in exts.items()}
             | {f"K_{c}": "sum" for c in holes})
        .reset_index()
    )
    table = _agg_table(aggs)
    named = {c: (f"S_{c}", "sum") for c in sums}
    named |= {f"K_{c}": (f"K_{c}", "sum") for c in holes}
    named |= {c: (f"V_{c}", how) for c, how in exts.items()}
    for alias, srcs, kind in table if nb > 1 else ():
        if kind == "closed":
            per[f"Q_{srcs[0]}"] = per[f"V_{srcs[0]}"] ** 2
            named[f"S1_{srcs[0]}"] = (f"V_{srcs[0]}", "sum")
            named[f"S2_{srcs[0]}"] = (f"Q_{srcs[0]}", "sum")
        else:
            r = _value(srcs, lambda c: per[f"V_{c}"])
            if len(srcs) > 1:  # blocks without the group carry no ratio
                r = r.where(per[f"V_{srcs[1]}"] > 0)
            per[f"R_{alias}"] = r
            named[f"sd_{alias}"] = (f"R_{alias}", "std")
            named[f"n_{alias}"] = (f"R_{alias}", "count")
    if group_by:
        final = (
            per.groupby(group_by, dropna=False, sort=False).agg(**named).reset_index()
        )
    else:
        final = pd.DataFrame({k: [per[c].agg(how)] for k, (c, how) in named.items()})
    for c in holes:
        final[c] = final[c].where(final[f"K_{c}"] > 0)
    # an ungrouped answer is one row of scalars: the estimates share the
    # partial row's one dtype, and the errors are floats
    tot = final if group_by else final[sums + list(exts)].iloc[0].to_frame().T
    out = final[group_by].copy()
    for alias, srcs, _ in table:
        out[alias] = _value(srcs, lambda c: tot[c])
    for alias, srcs, kind in table if nb > 1 else ():
        if kind == "closed":
            err = _closed_err(
                final[f"S1_{srcs[0]}"], final[f"S2_{srcs[0]}"], nb,
                np.sqrt, lambda v: np.maximum(v, 0.0),
            )
            if srcs[0] in holes:  # no error bar on a NULL estimate
                err = err.where(final[f"K_{srcs[0]}"] > 0)
        else:
            err = _spread_err(final[f"sd_{alias}"], final[f"n_{alias}"], np.sqrt)
        out[f"{alias}_err"] = err if group_by else err.astype(float)
    return out


def _estimate_spark(
    partials: DataFrame,
    aggs: Sequence[AggSpec],
    group_by: list[str],
    meta: ScrambleMeta,
    hi_block: int,
) -> DataFrame:
    """The estimator as two Spark aggregations, for HIGH-CARDINALITY
    group-bys: the partial table stays a DataFrame, so the driver never
    holds O(groups x blocks) rows — the reference's CTAS/temp-table
    combiner (``ola/SelectAsyncAggExecutionNode``) for exactly this
    case.  The scale factors enter the plan as literal arrays indexed
    by (tier, block).  Columns: group keys, then each estimate followed
    by its ``_err`` (none while nb <= 1)."""
    pairs = [
        (int(r[TIER_COL]), int(r[BLOCK_COL]))
        for r in partials.select(TIER_COL, BLOCK_COL).distinct().collect()
    ]
    nb, scale, invp = _scale_factors(pairs, meta, hi_block)
    m = max(b for _, b in pairs) + 1
    width = (max(t for t, _ in pairs) + 1) * m

    def lookup(factors: list[float]):
        dense = [0.0] * width
        for (t, b), f in zip(pairs, factors):
            dense[t * m + b] = f
        return F.array(*map(F.lit, dense))[F.col(TIER_COL) * m + F.col(BLOCK_COL)]

    sums, exts = _split_partials(partials.columns)
    s_, v_ = lookup(scale), lookup(invp)
    per = partials.groupBy(*group_by, BLOCK_COL).agg(
        *[F.sum(F.col(c) * s_).alias(f"S_{c}") for c in sums],
        *[F.sum(F.col(c) * v_).alias(f"V_{c}") for c in sums],
        *[getattr(F, how)(c).alias(f"V_{c}") for c, how in exts.items()],
    )
    cols = [F.sum(f"S_{c}").alias(c) for c in sums]
    cols += [getattr(F, how)(f"V_{c}").alias(c) for c, how in exts.items()]
    sel = [F.col(g) for g in group_by]
    for alias, srcs, kind in _agg_table(aggs):
        sel.append(_value(srcs, F.col).alias(alias))
        if nb <= 1:
            continue
        if kind == "closed":
            v = F.col(f"V_{srcs[0]}")
            # a NULL-preserving clamp (``greatest`` skips NULLs), so a
            # NULL estimate gets a NULL error bar, not 0.0
            err = _closed_err(
                F.sum(v), F.sum(v * v), nb,
                F.sqrt, lambda x: F.when(x < 0, F.lit(0.0)).otherwise(x),
            )
        else:
            r = _value(srcs, lambda c: F.col(f"V_{c}"))
            if len(srcs) > 1:
                r = F.when(F.col(f"V_{srcs[1]}") > 0, r)
            n = F.count(r)
            err = F.when(n > 1, _spread_err(F.stddev_samp(r), n.cast("double"), F.sqrt))
        cols.append(err.alias(f"{alias}_err"))
        sel.append(F.col(f"{alias}_err"))
    return per.groupBy(*group_by).agg(*cols).select(*sel)


def _lift_partials(spark, pdfs: list[pd.DataFrame], template: DataFrame) -> DataFrame:
    """Upload driver-accumulated partial chunks into a DataFrame with
    the partial table's own schema.  ``toPandas`` coerces nullable
    integer columns to float64 (NaN for NULL), so a schema'd
    ``createDataFrame`` would reject them — instead the frame is
    uploaded with inferred types and each column is ``try_cast`` back
    to the template type (NaN -> NULL, which is what the NaN meant).
    Raises on uninferable all-NULL object columns OR on float-coerced
    integer columns whose magnitude exceeds 2**53 (float64 can no
    longer represent the bigint exactly — the round-trip would be
    lossy); the caller falls back to a rescan in either case."""
    pdf = pd.concat(pdfs, ignore_index=True)
    by_name = {f.name: f.dataType for f in template.schema.fields}
    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for c in pdf.columns:
        if isinstance(by_name.get(c), int_types) and pd.api.types.is_float_dtype(
            pdf[c]
        ):
            vals = pdf[c].to_numpy()
            finite = vals[np.isfinite(vals)]
            if finite.size and np.abs(finite).max() > 2.0**53:
                raise ValueError(
                    f"partial column {c!r} exceeds float64 exact-integer "
                    "range; lift would lose precision"
                )
    sdf = spark.createDataFrame(pdf)
    return sdf.select(
        *[
            sdf[c].try_cast(by_name[c]).alias(c) if c in by_name else sdf[c]
            for c in sdf.columns
        ]
    )


class _BlockSpaceMeta:
    """The N scrambles of one block space presented as a single
    scramble to ``_estimate``/``_estimate_spark``: tier = mixed-radix
    composite of the per-side tiers (t1 * k2 + t2 for two sides), block
    = side 1's block (the subsample block), and sides 2..N multiply in
    their CURRENT prefix coverage (``ola/AggMeta.java:149-185``).
    ``aligned`` drops the product: matching rows of aligned hash
    scrambles share a block, so inclusion is a single event."""

    def __init__(
        self, metas: Sequence[ScrambleMeta], his_rest: Sequence[int], aligned: bool
    ):
        self.metas, self.his_rest, self.aligned = list(metas), list(his_rest), aligned
        self.ks = [max(len(m.cdf), 1) for m in metas]

    def _split(self, tier: int) -> tuple[int, list[float]]:
        """(side-1 tier, coverages of sides 2..N) of a composite tier."""
        t, rest = tier, []
        for m, hi, k in zip(self.metas[:0:-1], self.his_rest[::-1], self.ks[:0:-1]):
            t, tj = divmod(t, k)
            rest.append(m.coverage(hi, tj))
        return t, [] if self.aligned else rest[::-1]

    def coverage(self, upto_block: int, tier: int = 0) -> float:
        t, rest = self._split(int(tier))
        p = self.metas[0].coverage(upto_block, t)
        for c in rest:
            p *= c
        return p

    def block_prob(self, block: int, tier: int = 0) -> float:
        t, rest = self._split(int(tier))
        p = self.metas[0].block_prob(block, t)
        for c in rest:
            p *= c
        return p


def _slabs(spans: list[tuple[int, int]]) -> list[list[tuple[int, int]]]:
    """Decompose a block-box increment into disjoint slabs: slab i =
    old_1 x .. x old_{i-1} x NEW_i x cur_{i+1} x .. x cur_N (each block
    tuple of the new box is covered exactly once across slabs)."""
    out = []
    for i, (lo_i, hi_i) in enumerate(spans):
        if lo_i > hi_i or any(lo_j == 0 for lo_j, _ in spans[:i]):
            continue
        out.append(
            [(0, lo_j - 1) for lo_j, _ in spans[:i]]
            + [(lo_i, hi_i)]
            + [(0, max(hi_j, lo_j - 1)) for lo_j, hi_j in spans[i + 1:]]
        )
    return out


def _progress(
    sides: Sequence[tuple[DataFrame, ScrambleMeta]],
    on: Sequence[Sequence[tuple[str, str]]],
    aggs: Sequence[AggSpec],
    group_by: Sequence[str],
    schedule: str,
    transform,
    engine: str,
    engine_threshold: int,
    aligned: bool = False,
) -> Iterator[ProgressiveResult]:
    """The progressive driver over the block space of N scrambles
    chain-joined by ``on[j]`` (the (left_col, right_col) equi-join
    pairs linking side j+2 to the sides before it); see
    ``progressive_agg`` for the engine and transform contracts.

    Each step of ``_schedule`` joins only the new ``_slabs`` of the
    covered block box, so a full run touches every block tuple exactly
    once; ``aligned`` (two hash scrambles on the join key, see
    ``join.is_aligned``) cuts every slab to its diagonal and adds a
    block-equality join predicate — co-partitioned slices, no cross
    terms."""
    group_by = list(group_by)
    partial_exprs = _partial_exprs(aggs)
    metas = [m for _, m in sides]
    ns = [m.nblocks for m in metas]
    ks = [max(len(m.cdf), 1) for m in metas]
    # side 1 keeps TIER_COL/BLOCK_COL; sides 2..N are renamed so the
    # join output keeps every coordinate system
    dfs, tcols, bcols = [sides[0][0]], [TIER_COL], [BLOCK_COL]
    for j, (sdf, _) in enumerate(sides[1:], start=2):
        tcols.append(f"_vdbtier{j}")
        bcols.append(f"_vdbblock{j}")
        dfs.append(
            sdf.withColumnRenamed(TIER_COL, tcols[-1])
            .withColumnRenamed(BLOCK_COL, bcols[-1])
        )

    def box_agg(ranges: list[tuple[int, int]]) -> DataFrame:
        """Partial-aggregate one box of the block space; the composite
        tier (mixed radix, matching ``_BlockSpaceMeta._split``) is
        computed JVM-side so both estimate engines consume the same
        shape."""
        cur = dfs[0].where(F.col(BLOCK_COL).between(*ranges[0]))
        for j in range(1, len(dfs)):
            right = dfs[j].where(F.col(bcols[j]).between(*ranges[j]))
            cond = None
            for lc, rc in on[j - 1]:
                e = cur[lc] == right[rc]
                cond = e if cond is None else cond & e
            if aligned:
                cond = cond & (cur[BLOCK_COL] == right[bcols[j]])
            cur = cur.join(right, cond)
        if transform is not None:
            cur = transform(cur)
        # the grouping-key order fixes Spark's aggregate plan and output
        # row order, and with them the floating-point summation order
        # of every estimate downstream: one and two sides group as
        # (tier, block, tier2), longer chains as (tiers..., block)
        keys = [TIER_COL, BLOCK_COL, *tcols[1:]] if len(dfs) <= 2 else [*tcols, BLOCK_COL]
        agg_df = cur.groupBy(*group_by, *keys).agg(*partial_exprs)
        if len(dfs) == 1:
            return agg_df
        comp = F.col(TIER_COL)
        for tc, k in zip(tcols[1:], ks[1:]):
            comp = comp * k + F.col(tc)
        return agg_df.withColumn(TIER_COL, comp).drop(*tcols[1:])

    def slabs(spans: list[tuple[int, int]]) -> list[list[tuple[int, int]]]:
        out = _slabs(spans)
        if aligned:
            # block1 == block2 for every match: only the diagonal of a
            # slab holds rows
            cut = [(max(r[0] for r in s), min(r[1] for r in s)) for s in out]
            out = [[d] * len(s) for d, s in zip(cut, out) if d[0] <= d[1]]
        return out

    acc: list[pd.DataFrame] = []
    total_rows = 0
    acc_sdf: DataFrame | None = None
    use_spark = engine == "spark"
    have_rows = False
    for it, spans in enumerate(_schedule(ns, schedule)):
        his = [max(hi, lo - 1) for lo, hi in spans]
        new_dfs = [box_agg(r) for r in slabs(spans)]
        if not use_spark:
            for adf in new_dfs:
                pdf = adf.toPandas()
                if len(pdf):
                    acc.append(pdf)
                    total_rows += len(pdf)
            # PROJECTED full-coverage partial rows: rows / covered share
            # of the block box, prod_i (hi_i + 1) / n_i.  Switching on
            # the projection instead of the accumulated count means a
            # high-cardinality query crosses after its FIRST small span
            # — before a later span pulls the whole O(groups x blocks)
            # frame through toPandas (the probe schedule's second span
            # is everything, so a react-after-collect rule would defeat
            # the bound the 1-cell first span exists to provide).  For
            # joins this is the plane/cube share, not side 1's: partial
            # rows are keyed by block1 only, but a group's rows arrive
            # with EVERY side's coverage (an FK group needs its parent
            # row's block2), so projecting by side 1 alone under-projects
            # high-cardinality groups by 1/cov2 and the driver would
            # collect far past the threshold.  The box share is an
            # upper bound; switching early on saturating groups is the
            # price of bounded driver memory.
            share = math.prod(h + 1 for h in his) / math.prod(ns)
            if engine == "auto" and total_rows / max(share, 1e-9) > engine_threshold:
                # switch to the Spark engine.  Early crossing (<= half
                # the box): RE-AGGREGATE the covered box in one
                # partition-pruned Spark job — cheap, and sidesteps the
                # Arrow nullable-int -> float64 coercion of the
                # collected chunks.  Late crossing (past half, where a
                # rescan would redo most of the work): LIFT the
                # accumulated driver chunks into a DataFrame instead —
                # either way the driver never keeps growing an
                # O(groups x blocks) frame once the threshold fires.
                use_spark = True
                box = box_agg([(0, h) for h in his])
                if share > 0.5 and acc:
                    try:
                        acc_sdf = _lift_partials(
                            dfs[0].sparkSession, acc, box
                        ).localCheckpoint(eager=True)
                    except Exception:
                        pass  # uninferable chunk — rescan below
                if acc_sdf is None:
                    acc_sdf = box.localCheckpoint(eager=True)
                acc = []
        else:
            for adf in new_dfs:
                acc_sdf = adf if acc_sdf is None else acc_sdf.unionByName(adf)
            if acc_sdf is not None and new_dfs:
                # materialize: old blocks must not be re-scanned per step
                acc_sdf = acc_sdf.localCheckpoint(eager=True)
        meta = _BlockSpaceMeta(metas, his[1:], aligned)
        cov = meta.coverage(his[0], 0)
        if use_spark:
            # no partials yet -> no estimate (as on the driver), so a
            # run whose blocks all came up empty raises the fold's
            # empty message on both engines.  The isEmpty probe runs on
            # the checkpointed frame and stops at the first non-empty
            # step (rows only accumulate).
            if acc_sdf is None or (not have_rows and acc_sdf.isEmpty()):
                continue
            have_rows = True
            est = {"estimates_sdf": _estimate_spark(acc_sdf, aggs, group_by, meta, his[0])}
        elif acc:
            whole = pd.concat(acc, ignore_index=True)
            est = {"estimates": _estimate(whole, aggs, group_by, meta, his[0])}
        else:
            continue
        yield ProgressiveResult(
            **est,
            coverage=cov,
            blocks_covered=sum(h + 1 for h in his),
            iteration=it,
            # a partial-size scramble never reaches coverage 1: its
            # full prefix is still an estimate of the original table
            is_exact=all(h + 1 >= n for h, n in zip(his, ns)) and cov >= 1.0 - 1e-9,
        )


def progressive_agg(
    scramble: DataFrame,
    meta: ScrambleMeta,
    aggs: Sequence[AggSpec],
    group_by: Sequence[str] = (),
    schedule: str = "doubling",
    transform=None,
    engine: str = "auto",
    engine_threshold: int = 200_000,
) -> Iterator[ProgressiveResult]:
    """Yield progressively refined estimates, one per block span.

    Each iteration scans ONLY the new blocks (partition-pruned when
    the scramble is stored partitioned by block) and merges their
    partials into the accumulated in-memory partial table.

    ``transform(batch_df) -> DataFrame`` is applied to each pruned
    block batch BEFORE aggregation — the scramble-join-dimension path
    (the reference plans scramble x dim joins as per-block cubes,
    ``ola/OlaAggregationPlan.java:43-68``): join broadcast dimensions,
    filter, derive columns.  The sampling contract: each scramble row
    may map to any number of output rows, but the mapping must be
    deterministic and row-local (FK joins / filters / projections),
    so per-block inclusion probabilities carry through unchanged.
    ``transform`` must preserve the tier/block columns.

    ``engine`` selects where partials accumulate and estimates are
    computed: ``"driver"`` collects the tiny per-(group, tier, block)
    partial table to pandas (the reference's in-memory H2 combiner);
    ``"spark"`` keeps it a DataFrame and runs the whole estimator as
    Spark aggregations (the reference's CTAS/temp-table path for
    high-cardinality group-bys, ``ola/SelectAsyncAggExecutionNode``);
    ``"auto"`` starts on the driver and switches to Spark once the
    projected full-coverage partial rows exceed ``engine_threshold``.
    At cluster scale swap the per-iteration ``localCheckpoint`` for a
    reliable checkpoint directory.
    """
    _validate(aggs, meta)
    yield from _progress(
        [(scramble, meta)], [], aggs, group_by, schedule, transform,
        engine, engine_threshold,
    )


def _stop_counts(
    prev: pd.DataFrame, cur: pd.DataFrame, gb: list[str], value_cols: list[str]
) -> tuple:
    """The stop rule's counts from two driver frames."""
    if gb:
        m = prev.merge(cur, on=gb, suffixes=("_p", "_c"))
    else:
        m = pd.concat(
            [prev.add_suffix("_p").reset_index(drop=True), cur.add_suffix("_c").reset_index(drop=True)],
            axis=1,
        )
    move = 0.0
    for v in value_cols:
        p, c = m[f"{v}_p"].astype(float), m[f"{v}_c"].astype(float)
        rel = np.abs(c - p) / np.maximum(np.abs(p), 1e-12)
        move = np.fmax.reduce(rel.to_numpy(), initial=move)  # NULLs never move
    live = all(f[value_cols].notna().to_numpy().any() for f in (prev, cur))
    return len(prev), len(cur), len(m), move, live


def _stop_counts_sdf(
    prev: DataFrame, cur: DataFrame, gb: list[str], value_cols: list[str]
) -> tuple:
    """The stop rule's counts from two Spark frames, in ONE action over a
    null-safe full-outer join (the driver never holds either side)."""
    p = prev.select(*gb, *[F.col(v).alias(f"{v}_p") for v in value_cols], F.lit(1).alias("_pm"))
    c = cur.select(
        *[F.col(g).alias(f"{g}_c") for g in gb],
        *[F.col(v).alias(f"{v}_c") for v in value_cols],
        F.lit(1).alias("_cm"),
    )
    if gb:
        cond = None
        for g in gb:
            e = p[g].eqNullSafe(c[f"{g}_c"])
            cond = e if cond is None else cond & e
        m = p.join(c, cond, "full_outer")
    else:
        m = p.crossJoin(c)
    rel = [
        F.abs(F.col(f"{v}_c") - F.col(f"{v}_p"))
        / F.greatest(F.abs(F.col(f"{v}_p")), F.lit(1e-12))
        for v in value_cols
    ]

    def set_rows(side: str):  # rows holding some non-NULL estimate
        return F.count(F.coalesce(*[F.col(f"{v}_{side}") for v in value_cols], F.lit(None)))

    row = m.agg(
        F.sum("_pm"), F.sum("_cm"), F.sum(F.col("_pm") * F.col("_cm")),
        F.max(F.greatest(*rel, F.lit(0.0))), set_rows("p"), set_rows("c"),
    ).first()
    n_prev, n_cur, n_matched = (int(x or 0) for x in row[:3])
    return n_prev, n_cur, n_matched, row[3] or 0.0, row[4] > 0 and row[5] > 0


def converged(
    prev: ProgressiveResult,
    cur: ProgressiveResult,
    group_by: Sequence[str],
    value_cols: Sequence[str],
    value_threshold: float = 0.02,
    group_threshold: float = 0.05,
) -> bool:
    """The reference's difference-based stop rule
    (QueryResultAccuracyEstimatorFromDifference.java:126-217) between
    two snapshots: the group count moved under ``group_threshold``,
    as many groups matched, and no matched estimate moved more than
    ``value_threshold`` (relative).  Only its counts depend on where
    the snapshots live: read on the driver when both hold a driver
    frame, else in one Spark action.  A pair across an engine switch
    never converges (comparing them would pull the big frame to the
    driver), nor does a pair with an empty or all-NULL side: two
    snapshots that estimate nothing agree vacuously."""
    if (prev.estimates_sdf is None) != (cur.estimates_sdf is None):
        return False
    gb, vals = list(group_by), list(value_cols)
    if prev._pdf is not None and cur._pdf is not None:
        counts = _stop_counts(prev._pdf, cur._pdf, gb, vals)
    else:
        counts = _stop_counts_sdf(prev.estimates_sdf, cur.estimates_sdf, gb, vals)
    n_prev, n_cur, n_matched, move, live = counts
    if not live or abs(n_cur - n_prev) > group_threshold * max(n_prev, 1):
        return False
    if gb and n_matched < max(n_prev, n_cur) * (1 - group_threshold):
        return False
    return move <= value_threshold


def fold_progressive(
    results: Iterator[ProgressiveResult],
    value_cols: Sequence[str],
    group_by: Sequence[str],
    early_stop: bool = True,
    value_threshold: float = 0.02,
    group_threshold: float = 0.05,
    empty_message: str = "no blocks produced rows — nothing to estimate",
) -> ProgressiveResult:
    """Fold a progressive iterator to its final snapshot: the first one
    ``converged`` with its predecessor, or the last.  The one folding
    loop of every progressive consumer: the approx_* drivers, the SQL
    front door (aggregate and percentile routes) and
    ``ResultStream.until_converged``."""
    prev: ProgressiveResult | None = None
    for res in results:
        if early_stop and prev is not None and converged(
            prev, res, group_by, value_cols, value_threshold, group_threshold
        ):
            return res
        prev = res
    if prev is None:
        raise ValueError(empty_message)
    return prev


def approx_agg(
    scramble: DataFrame,
    meta: ScrambleMeta,
    aggs: Sequence[AggSpec],
    group_by: Sequence[str] = (),
    schedule: str = "doubling",
    value_threshold: float = 0.02,
    group_threshold: float = 0.05,
    transform=None,
    early_stop: bool = True,
    engine: str = "auto",
    engine_threshold: int = 200_000,
) -> ProgressiveResult:
    """Run progressively until the stop rule fires (or full coverage).

    The early stop is the whole point at 100 TB: with 100 blocks and
    a converging aggregate this typically scans a few % of the data
    and never touches the remaining partitions.  ``early_stop=False``
    always runs to the full block prefix (the reference's own oracle
    mode: full coverage of a full-size scramble == exact).
    """
    return fold_progressive(
        progressive_agg(
            scramble, meta, aggs, group_by, schedule, transform,
            engine=engine, engine_threshold=engine_threshold,
        ),
        [a.alias for a in aggs], group_by, early_stop, value_threshold,
        group_threshold,
        empty_message=(
            "no blocks produced rows (empty scramble, or transform/where "
            "filtered out everything) — nothing to estimate"
        ),
    )
