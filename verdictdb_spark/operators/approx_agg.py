"""Generic distributed sketch aggregation: partition partials + tree merge.

This is the rebuild of the reference's progressive-aggregation core —
partial aggregates per block (``ola/AsyncQueryExecutionPlan.java:149-340``)
combined pairwise in arbitrary tree shapes
(``ola/AggCombinerExecutionNode.composeUnionQuery:116-184``, stacking
``AsyncQueryExecutionPlan.java:314-326``) — re-expressed Spark-first:

* **Build** is map-side only: one ``mapInPandas`` pass computes a
  partial sketch per (input partition x group).  Raw rows are NEVER
  shuffled — the only thing that moves is a few-KB state per group
  per partition.  Hashing happens JVM-side (``xxhash64`` inside
  whole-stage codegen) before the Arrow boundary, so the Python side
  only does numpy array math.
* **Merge** is a logarithmic tree of ``repartition`` + ``mapInPandas``
  rounds (north_rule: "per-partition partial sketches merged in a
  logarithmic tree reduce").  Each round buckets partials by
  ``pmod(xxhash64(partition_id), width)`` so a group with millions of
  partials (the skew case — one mega-repo) never funnels into a
  single task until its partial count is below ``fanin``.
* **Finish** runs inside the last merge round: given a finisher, that
  round turns each group's merged state into its answer columns (an
  estimate, quantiles, top-k rows) in the same Python pass, so a
  sketch query is exactly two Python stages — build and
  merge-and-finish — like the reference's partials, combiners and one
  final query.  Without a finisher the last round emits the merged
  state bytes (persisted sketch tables, incremental merge);
  ``finalize`` answers such frames.
* **Skew**: the build stage needs no salting at all (partials are
  per-partition, so a hot group just yields one partial per
  partition); the tree merge IS the salted two-stage combine.

At 100 TB / 10^12 rows: stage 1 is embarrassingly parallel over
~100k input splits; each split emits |groups-in-split| states
(bounded by distinct groups, e.g. repo x lang); the merge tree is
depth ceil(log_fanin(#splits)) = 3 rounds at fanin 64 — each round a
small shuffle of sketch states, KBs per group.
"""

from __future__ import annotations

import time
from math import ceil
from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sketches.state import reduce_merge

GROUP_ALL = "__all__"  # sentinel group key for global (ungrouped) sketches

LINEAGE_FIELDS = [
    T.StructField("part_id", T.IntegerType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("checksum", T.LongType()),
    T.StructField("wall_ms", T.DoubleType()),
]


def _group_schema(df: DataFrame, group_by: Sequence[str]) -> list[T.StructField]:
    if not group_by:
        return [T.StructField(GROUP_ALL, T.IntegerType())]
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[g] for g in group_by]


def factorize_keys(pdf: pd.DataFrame, gcols: list[str]) -> tuple[np.ndarray, pd.DataFrame]:
    """(codes, unique-key frame in code order) — C-speed, multi-column;
    a NULL key is None in the frame.

    Group handling inside Arrow batches must never loop Python over
    rows; factorize gives integer codes so all downstream work is
    numpy scatters."""
    if not gcols:
        return np.zeros(len(pdf), dtype=np.int64), pd.DataFrame({GROUP_ALL: [0]})
    combined = None
    radix_ok = True
    cap = 1
    for g in gcols:
        c, _ = pd.factorize(pdf[g], use_na_sentinel=False)
        width = int(c.max()) + 1
        cap *= width
        if cap > 2**62:  # mixed-radix would overflow int64 and collide keys
            radix_ok = False
            break
        combined = c if combined is None else combined * width + c
    if not radix_ok:
        # rare path (many high-cardinality group cols in one batch):
        # exact multi-column factorize, slower but collision-free
        codes = pd.MultiIndex.from_frame(pdf[gcols]).factorize(use_na_sentinel=False)[0]
    else:
        codes, _ = pd.factorize(combined)
    # representative row per unique code (first occurrence)
    rep = np.empty(int(codes.max()) + 1, dtype=np.int64)
    rep[codes[::-1]] = np.arange(len(codes))[::-1]
    uniq = pdf.iloc[rep][gcols].reset_index(drop=True)
    for g in gcols:
        # a NULL key comes back as None or as a fresh NaN per batch, and
        # NaN keys never match in a dict: every caller keys dicts by
        # these rows, so NULL is None
        na = uniq[g].isna()
        if na.any():
            uniq[g] = uniq[g].astype(object).where(~na, None)
    return codes, uniq


class GroupRows:
    """Per-partition group -> accumulator row map across Arrow batches.

    ``rows(pdf)`` factorizes the batch's group keys (``factorize_keys``)
    and returns each record's row, giving an unseen key the next free
    row; every array named in ``arrays`` (``name=(row shape, dtype,
    fill)``) then has a row per key seen so far, so a caller scatters
    each batch straight into ``self.arrays[name]``.  ``self.index``
    maps each key tuple to its row, in row order."""

    def __init__(self, gcols: list[str], **arrays: tuple) -> None:
        self.gcols = gcols
        self.index: dict[tuple, int] = {}
        self.spec = arrays
        self.arrays = {
            name: np.full((0, *shape), fill, dtype=dtype)
            for name, (shape, dtype, fill) in arrays.items()
        }

    def rows(self, pdf: pd.DataFrame) -> np.ndarray:
        codes, uniq = factorize_keys(pdf, self.gcols)
        index = self.index
        rows = np.array(
            [index.setdefault(k, len(index)) for k in uniq.itertuples(index=False, name=None)],
            dtype=np.int64,
        )
        for name, (shape, dtype, fill) in self.spec.items():
            have = len(self.arrays[name])
            if len(index) > have:
                pad = np.full((len(index) - have, *shape), fill, dtype=dtype)
                self.arrays[name] = np.concatenate([self.arrays[name], pad])
        return rows[codes]


def _value_column(col: str | Column, input_kind: str) -> Column:
    """JVM-side value preparation: hash or numeric cast, never Python."""
    c = F.col(col) if isinstance(col, str) else col
    if input_kind == "hash":
        return F.xxhash64(c)
    if input_kind == "double":
        return c.cast("double")
    if input_kind == "long":
        return c.cast("long")
    if input_kind == "prehashed":  # caller already applied xxhash64
        return c
    raise ValueError(f"unknown input_kind {input_kind!r}")


def build_partials(
    df: DataFrame,
    sketch: Any,
    value: str | Column,
    group_by: Sequence[str] = (),
    input_kind: str = "hash",
) -> DataFrame:
    """Stage 1: per-(partition x group) partial sketch states, map-side only.

    Returns DataFrame: group cols + state(binary) + lineage
    (part_id, n_rows, checksum, wall_ms).  The checksum is the
    xor-fold of the row hashes/values in the partial — persisted with
    the partial so a resumed run can verify per-partition integrity
    (north_rule: "per-partition lineage and metrics persisted").
    """
    group_by = list(group_by)
    gfields = _group_schema(df, group_by)
    out_schema = T.StructType(
        gfields + [T.StructField("state", T.BinaryType())] + LINEAGE_FIELDS
    )
    gcols = group_by if group_by else []
    raw = F.col(value) if isinstance(value, str) else value
    sel = [F.col(g) for g in gcols] + [_value_column(value, input_kind).alias("_v")]
    prepared = df.where(raw.isNotNull()).select(*sel)
    gnames = [f.name for f in gfields]

    grouped_fast = hasattr(sketch, "update_grouped") and hasattr(sketch, "state_size")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.monotonic()
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        # vectorized-across-groups accumulators
        if grouped_fast:
            groups = GroupRows(
                gcols,
                state=((sketch.state_size,), sketch.state_dtype, 0),
                n_rows=((), np.int64, 0),
                checksum=((), np.int64, 0),
            )
        # generic per-group accumulators
        acc: dict[tuple, Any] = {}
        nrows: dict[tuple, int] = {}
        cksum: dict[tuple, int] = {}

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v_all = pdf["_v"].to_numpy()
            if grouped_fast:
                rows = groups.rows(pdf)
                # single scatter per batch straight into the accumulator
                # (no per-batch group matrices — keeps memory traffic
                # O(rows) so many concurrent workers don't thrash DRAM)
                arr = groups.arrays
                sketch.update_grouped(arr["state"].reshape(-1), rows, v_all)
                arr["n_rows"] += np.bincount(rows, minlength=len(groups.index))
                np.bitwise_xor.at(arr["checksum"], rows, v_all.astype(np.int64, copy=False))
            else:
                if gcols:
                    grouped = pdf.groupby(gcols, sort=False, dropna=False).indices
                else:
                    grouped = {(0,): np.arange(len(pdf))}
                for key, idx in grouped.items():
                    k = key if isinstance(key, tuple) else (key,)
                    v = v_all[idx]
                    st = sketch.build(v)
                    acc[k] = sketch.merge(acc[k], st) if k in acc else st
                    nrows[k] = nrows.get(k, 0) + len(idx)
                    x = np.bitwise_xor.reduce(v.astype(np.int64, copy=False)) if len(v) else 0
                    cksum[k] = cksum.get(k, 0) ^ int(x)

        wall = (time.monotonic() - t0) * 1e3
        if grouped_fast:
            arr = groups.arrays
            yield pd.DataFrame(list(groups.index), columns=gnames).assign(
                state=[sketch.to_bytes(st) for st in arr["state"]],
                part_id=pid,
                n_rows=arr["n_rows"],
                checksum=arr["checksum"],
                wall_ms=wall / max(len(groups.index), 1),
            )
            return
        per = wall / max(len(acc), 1)
        rows_out = [
            list(k) + [sketch.to_bytes(st), pid, nrows[k], cksum[k], per] for k, st in acc.items()
        ]
        yield pd.DataFrame(
            rows_out, columns=gnames + ["state", "part_id", "n_rows", "checksum", "wall_ms"]
        )

    return prepared.mapInPandas(build, out_schema)


Finisher = tuple[list[T.StructField], Callable[[pd.DataFrame, list], pd.DataFrame]]


def tree_merge(
    partials: DataFrame,
    sketch: Any,
    group_by: Sequence[str] = (),
    fanin: int = 64,
    n_partials_hint: int | None = None,
    finish: Finisher | None = None,
) -> DataFrame:
    """Stage 2: logarithmic tree-reduce of partial states per group.

    Each round is ``repartition(width, keys)`` + ``mapInPandas``: one
    Python invocation per PARTITION (not per group — a per-group
    applyInPandas pays ~1ms/group, which dominates under
    high-cardinality group-bys), with vectorized key factorization and
    ``merge_many`` per group.  Explicit repartition also pins the
    reduce parallelism — AQE would coalesce these small-byte shuffles
    to a handful of tasks even though the Python merge cost per byte
    is high.  Rounds bucket a hot group's partials by partition hash
    so skew spreads until the fan-in is small.

    ``finish = (fields, fn)`` makes the last round emit answers instead
    of states: ``fn(keys, states)`` gets the round's group-key frame
    (the ``group_by`` columns, none when ungrouped) and the merged
    states in key order, and returns the key columns plus ``fields``,
    any number of rows per group.  The answer frame has no
    ``GROUP_ALL`` column.
    """
    gnames = list(group_by) if group_by else [GROUP_ALL]
    gfields = [f for f in partials.schema.fields if f.name in gnames]
    spark = partials.sparkSession
    parallelism = spark.sparkContext.defaultParallelism

    def _fold(blobs: list) -> Any:
        states = [sketch.from_bytes(b) for b in blobs]
        if hasattr(sketch, "merge_many") and len(states) > 1:
            return sketch.merge_many(states)
        return reduce_merge(sketch, states)

    def make_merge_fn(extra: list[str], finish_fn=None):
        keycols = gnames + extra

        def merge_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc: dict[tuple, Any] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                codes, uniq = factorize_keys(pdf, keycols)
                blobs = pdf["state"].to_numpy()
                order = np.argsort(codes, kind="stable")
                bounds = np.searchsorted(codes[order], np.arange(len(uniq) + 1))
                uniq_rows = list(uniq.itertuples(index=False, name=None))
                for g in range(len(uniq)):
                    idx = order[bounds[g] : bounds[g + 1]]
                    st = _fold(list(blobs[idx]))
                    k = uniq_rows[g]
                    acc[k] = sketch.merge(acc[k], st) if k in acc else st
            keys = pd.DataFrame(list(acc), columns=keycols)
            if finish_fn is None:
                yield keys.assign(state=[sketch.to_bytes(st) for st in acc.values()])
            elif acc:
                yield finish_fn(keys.drop(columns=[GROUP_ALL], errors="ignore"), list(acc.values()))

        return merge_fn

    cur = partials.select(*gnames, "state", "part_id")
    width = n_partials_hint or parallelism
    round_schema = T.StructType(
        gfields + [T.StructField("part_id", T.IntegerType()), T.StructField("state", T.BinaryType())]
    )
    while width > fanin:
        width = ceil(width / fanin)
        cur = cur.withColumn(
            "part_id", F.pmod(F.xxhash64("part_id"), F.lit(width)).cast("int")
        )
        cur = cur.repartition(parallelism, *gnames, "part_id").mapInPandas(
            make_merge_fn(["part_id"]), round_schema
        )
    if finish is None:
        last_fn = make_merge_fn([])
        last_schema = T.StructType(gfields + [T.StructField("state", T.BinaryType())])
    else:
        fields, finish_fn = finish
        last_fn = make_merge_fn([], finish_fn)
        last_schema = T.StructType((gfields if group_by else []) + list(fields))
    return cur.repartition(parallelism, *gnames).mapInPandas(last_fn, last_schema)


def sketch_agg(
    df: DataFrame,
    sketch: Any,
    value: str | Column,
    group_by: Sequence[str] = (),
    input_kind: str = "hash",
    fanin: int = 64,
    finish: Finisher | None = None,
) -> DataFrame:
    """Build + tree-merge: one merged state row per group, or the
    ``finish`` answer rows (see ``tree_merge``)."""
    partials = build_partials(df, sketch, value, group_by, input_kind)
    return tree_merge(partials, sketch, group_by, fanin=fanin, finish=finish)


def merge_with_states(
    partials: DataFrame,
    states: DataFrame | None,
    sketch: Any,
    group_by: Sequence[str] = (),
    finish: Finisher | None = None,
) -> DataFrame:
    """Tree-merge new ``build_partials`` rows with previously merged
    ``states`` (group cols + state: a progressive step's accumulated
    states, a persisted state table; None on the first merge).

    The states go LAST, as ``part_id`` -1: a round folds each group's
    states in arrival order, so the new partials fold together first
    and then merge with the accumulated state.  KLL compacts as it
    merges, so fold order decides its bits; this order gives the bits
    of merging the new partials' own merged state into the accumulated
    one (KLL merge is commutative)."""
    gcols = list(group_by)
    parts = partials.select(*(gcols or [GROUP_ALL]), "state", "part_id")
    if states is not None:
        keys = gcols or [F.lit(0).alias(GROUP_ALL)]
        parts = parts.unionByName(states.select(*keys, "state", F.lit(-1).alias("part_id")))
    return tree_merge(parts, sketch, group_by, finish=finish)


def estimates(sketch: Any, states: list, estimator: Callable[[Any, Any], Any] | None = None):
    """The sketch's estimate of each decoded state, vectorized when the
    sketch has ``estimate_many``."""
    if estimator is None and hasattr(sketch, "estimate_many") and len(states):
        return sketch.estimate_many(np.stack(states))
    est = estimator or (lambda sk, st: sk.estimate(st))
    return [est(sketch, st) for st in states]


def estimate_finisher(sketch: Any, out_col: str, out_type: T.DataType) -> Finisher:
    """``tree_merge`` finisher: one ``out_col`` estimate per group."""

    def fn(keys: pd.DataFrame, states: list) -> pd.DataFrame:
        return keys.assign(**{out_col: estimates(sketch, states)})

    return [T.StructField(out_col, out_type)], fn


def finalize(
    merged: DataFrame,
    sketch: Any,
    out_col: str,
    out_type: T.DataType,
    estimator: Callable[[Any, Any], Any] | None = None,
) -> DataFrame:
    """Apply the sketch's estimator to each merged state of a state
    frame (a persisted sketch table, a resumed checkpoint); a one-shot
    query gets the same estimates from ``estimate_finisher`` inside its
    last merge round instead."""

    @F.pandas_udf(out_type)
    def _est(states: pd.Series) -> pd.Series:
        return pd.Series(estimates(sketch, [sketch.from_bytes(b) for b in states], estimator))

    out = merged.withColumn(out_col, _est(F.col("state"))).drop("state")
    if GROUP_ALL in out.columns:
        out = out.drop(GROUP_ALL)
    return out
