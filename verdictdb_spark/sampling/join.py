"""Progressive aggregation over JOINS OF SCRAMBLES.

Rebuild of the reference's ripple/hyper-table-cube join planning
(``ola/OlaAggregationPlan.java:43-68`` plans the block-combination
sequence, ``ola/HyperTableCube.java:69-106`` slices the block space,
``ola/AggMeta.java:149-185`` multiplies per-scramble coverage into the
scale factor).  A join of N scrambles is the N-dimensional block space
of ``progressive._progress``, the same driver that runs a single
scramble; this module holds the join signatures and their rules:

* Each step grows every side's block prefix and joins only the
  disjoint slab increments of the covered box (for two sides the
  L-shaped (new1 x all2) + (old1 x new2)), so a full run joins every
  block tuple exactly once; with written scrambles every side is a
  partition-pruned file scan.  This is the cube-slicing idea with
  Catalyst doing the physical join planning per slab.
* A joined row tuple survives iff every source row's block is in its
  prefix.  With independent scramble hashes the inclusion probability
  multiplies: P = cdf1(tier1, hi1) * cdf2(tier2, hi2) * ... — the
  reference's scale product.  The composite (tier1, tier2, ...) plays
  the role of the tier, block1 the role of the subsample block, and
  the single-scramble estimator (incl. subsample error bars) is reused
  verbatim.
* ALIGNED hash scrambles (both sides of a 2-way join hash-scrambled on
  the join key with the same seed and block count) are detected and
  handled with the stronger rule: matching rows hash identically, so
  block1 == block2 for every matching pair — each slab is cut to its
  diagonal and the join gets a block-equality predicate (co-partitioned
  slices, no cross terms), and inclusion is a SINGLE event with
  P = cdf(tier, hi), not a product.  This is what makes
  COUNT(DISTINCT join_key) over a join legal, the reference's
  scramble-correctness rule
  (``SelectQueryCoordinator.ensureScrambleCorrectness:189-238``).
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import DataFrame

from .progressive import AggSpec, ProgressiveResult, _progress, fold_progressive
from .scramble import ScrambleMeta


def is_aligned(meta1: ScrambleMeta, meta2: ScrambleMeta, on: Sequence[tuple[str, str]]) -> bool:
    """True iff both scrambles hash-partition the join key identically:
    same method=hash, same seed, same block count, and the two hash
    columns are the two sides of the SAME equi-join pair (hash columns
    on different pairs hash different values — blocks would not match).
    Then every matching row pair shares a block."""
    if meta1.method != "hash" or meta2.method != "hash":
        return False
    if meta1.seed != meta2.seed or meta1.nblocks != meta2.nblocks:
        return False
    return any(
        meta1.hash_column == lc and meta2.hash_column == rc for lc, rc in on
    )


def _validate_join(
    aggs: Sequence[AggSpec],
    on: Sequence[tuple[str, str]],
    aligned: bool,
) -> None:
    for a in aggs:
        if a.op == "countdistinct":
            if not aligned:
                raise ValueError(
                    "countdistinct over a scramble join requires ALIGNED hash "
                    "scrambles on the join key (same seed and block count) — "
                    "the reference enforces the analogous rule "
                    "(SelectQueryCoordinator.ensureScrambleCorrectness:189-238)"
                )
            keys = {c for pair in on for c in pair}
            if a.col not in keys:
                raise ValueError(
                    f"countdistinct({a.col}) over a join is only exact per block "
                    f"when the column is the hash-aligned join key {sorted(keys)}"
                )


def progressive_join_agg(
    scramble1: DataFrame,
    meta1: ScrambleMeta,
    scramble2: DataFrame,
    meta2: ScrambleMeta,
    on: Sequence[tuple[str, str]],
    aggs: Sequence[AggSpec],
    group_by: Sequence[str] = (),
    transform=None,
    engine: str = "auto",
    engine_threshold: int = 200_000,
    schedule: str = "doubling",
) -> Iterator[ProgressiveResult]:
    """Yield progressively refined estimates over scramble1 ⋈ scramble2.

    ``on`` is a list of (left_col, right_col) equi-join pairs.  Each
    iteration doubles the covered square of the block plane and joins
    only the L-shaped increment; partials accumulate keyed by (group,
    composite tier, block1) and the estimate applies the
    coverage-product scale.  ``schedule`` is ``"doubling"``,
    ``"probe"`` or ``"single"`` (the whole plane in ONE join — the
    one-shot mode for callers that consume only the final estimate),
    see ``progressive._schedule``.

    ``transform(joined_df) -> DataFrame`` runs on each joined increment
    before aggregation (broadcast-dim joins, filters, derived columns)
    under the same row-local contract as ``progressive_agg``; ``engine``
    works as there too.
    """
    aligned = is_aligned(meta1, meta2, on)
    _validate_join(aggs, on, aligned)
    yield from _progress(
        [(scramble1, meta1), (scramble2, meta2)], [on], aggs, group_by,
        schedule, transform, engine, engine_threshold, aligned=aligned,
    )


def approx_join_agg(
    scramble1: DataFrame,
    meta1: ScrambleMeta,
    scramble2: DataFrame,
    meta2: ScrambleMeta,
    on: Sequence[tuple[str, str]],
    aggs: Sequence[AggSpec],
    group_by: Sequence[str] = (),
    value_threshold: float = 0.02,
    group_threshold: float = 0.05,
    transform=None,
    early_stop: bool = True,
    engine: str = "auto",
    engine_threshold: int = 200_000,
    schedule: str = "doubling",
) -> ProgressiveResult:
    """Run the join progression until the difference-based stop rule
    fires (or the block plane is fully covered)."""
    return fold_progressive(
        progressive_join_agg(
            scramble1, meta1, scramble2, meta2, on, aggs, group_by, transform,
            engine=engine, engine_threshold=engine_threshold, schedule=schedule,
        ),
        aggs, group_by, early_stop, value_threshold, group_threshold,
        empty_message=(
            "no block pairs produced rows (empty scrambles or an "
            "everything-filtering transform) — nothing to estimate"
        ),
    )


def progressive_multi_join_agg(
    scrambles: Sequence[tuple[DataFrame, ScrambleMeta]],
    on: Sequence[Sequence[tuple[str, str]]],
    aggs: Sequence[AggSpec],
    group_by: Sequence[str] = (),
    transform=None,
    engine: str = "auto",
    engine_threshold: int = 200_000,
    schedule: str = "doubling",
) -> Iterator[ProgressiveResult]:
    """Progressive aggregates over a CHAIN JOIN of N scrambles —
    scramble_1 ⋈ scramble_2 ⋈ ... ⋈ scramble_N, the d-dimensional
    hyper-table cube.  ``on[i]`` lists the (table_i_col,
    table_{i+1}_col) equi-join pairs linking consecutive scrambles.

    Each iteration doubles every side's block prefix and joins only the
    disjoint slab increments of the hypercube; the inclusion
    probability of a joined row tuple is the product of the N prefix
    coverages (independent scramble hashes).  COUNT DISTINCT is not
    supported over N-way scramble joins (the aligned-hash argument only
    composes pairwise).
    """
    n = len(scrambles)
    if n < 2:
        raise ValueError("need at least two scrambles")
    if len(on) != n - 1:
        raise ValueError("need exactly one join-pair list per consecutive pair")
    for a in aggs:
        if a.op == "countdistinct":
            raise ValueError("countdistinct unsupported over N-way scramble joins")
    yield from _progress(
        scrambles, on, aggs, group_by, schedule, transform, engine, engine_threshold
    )


def approx_multi_join_agg(
    scrambles: Sequence[tuple[DataFrame, ScrambleMeta]],
    on: Sequence[Sequence[tuple[str, str]]],
    aggs: Sequence[AggSpec],
    group_by: Sequence[str] = (),
    value_threshold: float = 0.02,
    group_threshold: float = 0.05,
    transform=None,
    early_stop: bool = True,
    engine: str = "auto",
    engine_threshold: int = 200_000,
    schedule: str = "doubling",
) -> ProgressiveResult:
    """Run the N-way chain-join progression with the difference-based
    early stop (or to full hypercube coverage)."""
    return fold_progressive(
        progressive_multi_join_agg(
            scrambles, on, aggs, group_by, transform,
            engine=engine, engine_threshold=engine_threshold,
            schedule=schedule,
        ),
        aggs, group_by, early_stop, value_threshold, group_threshold,
        empty_message="no block tuples produced rows — nothing to estimate",
    )
