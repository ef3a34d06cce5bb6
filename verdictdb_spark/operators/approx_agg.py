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
* **Merge** is a logarithmic tree of ``applyInPandas`` rounds
  (north_rule: "per-partition partial sketches merged in a
  logarithmic tree reduce").  Each round buckets partials by
  ``pmod(xxhash64(partition_id), width)`` so a group with millions of
  partials (the skew case — one mega-repo) never funnels into a
  single task until its partial count is below ``fanin``.
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
    """(codes, unique-key frame in code order) — C-speed, multi-column.

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
    return codes, pdf.iloc[rep][gcols].reset_index(drop=True)


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

    def _factorize(pdf: pd.DataFrame) -> tuple[np.ndarray, pd.DataFrame]:
        return factorize_keys(pdf, gcols)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.monotonic()
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        # vectorized-across-groups accumulators
        key_rows: dict[tuple, int] = {}
        keys_df: list[pd.DataFrame] = []
        mat: Any = None
        nrows_v: list[int] = []
        cksum_v: list[int] = []
        # generic per-group accumulators
        acc: dict[tuple, Any] = {}
        nrows: dict[tuple, int] = {}
        cksum: dict[tuple, int] = {}

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v_all = pdf["_v"].to_numpy()
            if grouped_fast:
                codes, uniq = _factorize(pdf)
                n_new = len(uniq)
                # map batch-local codes -> global accumulator rows
                rows = np.empty(n_new, dtype=np.int64)
                for i, key in enumerate(uniq.itertuples(index=False, name=None)):
                    r = key_rows.get(key)
                    if r is None:
                        r = len(key_rows)
                        key_rows[key] = r
                        nrows_v.append(0)
                        cksum_v.append(0)
                    rows[i] = r
                width = sketch.state_size
                if mat is None:
                    mat = np.zeros(0, dtype=sketch.state_dtype)
                if len(key_rows) * width > mat.size:
                    mat = np.concatenate(
                        [mat, np.zeros(len(key_rows) * width - mat.size, dtype=sketch.state_dtype)]
                    )
                # single scatter per batch straight into the accumulator
                # (no per-batch group matrices — keeps memory traffic
                # O(rows) so many concurrent workers don't thrash DRAM)
                sketch.update_grouped(mat, rows[codes], v_all)
                cnt = np.bincount(codes, minlength=n_new)
                xo = np.zeros(n_new, dtype=np.int64)
                np.bitwise_xor.at(xo, codes, v_all.astype(np.int64, copy=False))
                for i in range(n_new):
                    nrows_v[rows[i]] += int(cnt[i])
                    cksum_v[rows[i]] ^= int(xo[i])
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
        rows_out = []
        if grouped_fast and mat is not None:
            per = wall / max(len(key_rows), 1)
            mat2 = mat.reshape(-1, sketch.state_size)
            for key, r in key_rows.items():
                rows_out.append(
                    list(key) + [sketch.to_bytes(mat2[r]), pid, nrows_v[r], cksum_v[r], per]
                )
        else:
            per = wall / max(len(acc), 1)
            for k, st in acc.items():
                rows_out.append(list(k) + [sketch.to_bytes(st), pid, nrows[k], cksum[k], per])
        yield pd.DataFrame(
            rows_out, columns=gnames + ["state", "part_id", "n_rows", "checksum", "wall_ms"]
        )

    return prepared.mapInPandas(build, out_schema)


def tree_merge(
    partials: DataFrame,
    sketch: Any,
    group_by: Sequence[str] = (),
    fanin: int = 64,
    n_partials_hint: int | None = None,
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
    """
    gnames = list(group_by) if group_by else [GROUP_ALL]
    gfields = [f for f in partials.schema.fields if f.name in gnames]
    merged_schema = T.StructType(gfields + [T.StructField("state", T.BinaryType())])
    spark = partials.sparkSession
    parallelism = spark.sparkContext.defaultParallelism

    def _fold(blobs: list) -> Any:
        states = [sketch.from_bytes(b) for b in blobs]
        if hasattr(sketch, "merge_many") and len(states) > 1:
            return sketch.merge_many(states)
        return reduce_merge(sketch, states)

    def make_merge_fn(extra: list[str]):
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
            rows = [list(k) + [sketch.to_bytes(st)] for k, st in acc.items()]
            yield pd.DataFrame(rows, columns=keycols + ["state"])

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
    return cur.repartition(parallelism, *gnames).mapInPandas(
        make_merge_fn([]), merged_schema
    )


def sketch_agg(
    df: DataFrame,
    sketch: Any,
    value: str | Column,
    group_by: Sequence[str] = (),
    input_kind: str = "hash",
    fanin: int = 64,
) -> DataFrame:
    """Build + tree-merge: one merged state row per group."""
    partials = build_partials(df, sketch, value, group_by, input_kind)
    return tree_merge(partials, sketch, group_by, fanin=fanin)


def finalize(
    merged: DataFrame,
    sketch: Any,
    out_col: str,
    out_type: T.DataType,
    estimator: Callable[[Any, Any], Any] | None = None,
) -> DataFrame:
    """Apply the sketch's estimator to each merged state (tiny data)."""
    est = estimator or (lambda sk, st: sk.estimate(st))

    @F.pandas_udf(out_type)
    def _est(states: pd.Series) -> pd.Series:
        decoded = [sketch.from_bytes(b) for b in states]
        if estimator is None and hasattr(sketch, "estimate_many") and len(decoded):
            return pd.Series(sketch.estimate_many(np.stack(decoded)))
        return pd.Series([est(sketch, d) for d in decoded])

    out = merged.withColumn(out_col, _est(F.col("state"))).drop("state")
    if GROUP_ALL in out.columns:
        out = out.drop(GROUP_ALL)
    return out
