"""Approximate frequency / heavy-hitter queries via count-min sketch.

Answers ``SELECT v, COUNT(*) FROM t GROUP BY v ORDER BY 2 DESC LIMIT k``
over high-cardinality keys without an exact global group-by.  Top-k's
mergeable state per (partition x group) is a CMS plus candidates:

1. map-side, one fused pass per partition builds the CMS counters AND
   a Misra-Gries summary of C counters as the candidate source.  The
   MG guarantee (mergeable-summaries, Agarwal et al. 2013): a summary
   of C counters over N_p rows undercounts any value by at most
   N_p/(C+1), so every value with true partition frequency
   > N_p/(C+1) survives — hence every value with GLOBAL frequency
   > N/(C+1) survives in at least one partition's summary (it must
   exceed the local threshold somewhere).  With C = 4k the global
   top-k is recovered whenever the k-th heavy hitter holds > 1/(4k+1)
   of the mass; below that no candidate-based scheme distinguishes
   heavy from noise anyway.  Per-partition memory is O(C), never the
   distinct-value count.  The survivors' (value, hash) pairs ride in
   the state next to the counters.
2. the tree merge adds the counters and unions the candidates
   (deduplicated by hash);
3. its last round scores each group's candidates against the merged
   CMS and keeps k (CMS estimates are one-sided: overestimate
   <= eps*N w.p. 1-delta).

At 10^12 rows nothing but sketch states — counters plus <= C
candidates per (partition x group) — ever shuffles.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sketches.cms import CmsSketch
from .approx_agg import GROUP_ALL, Finisher, build_partials, factorize_keys, tree_merge


def cms_sketch_table(
    df: DataFrame,
    col: str | Column,
    group_by: Sequence[str] = (),
    eps: float = 1.0 / (1 << 14),
    delta: float = 0.01,
) -> DataFrame:
    sk = CmsSketch(eps=eps, delta=delta)
    partials = build_partials(df, sk, col, group_by, input_kind="hash")
    return tree_merge(partials, sk, group_by)


@dataclass(frozen=True)
class CmsCandidates:
    """Top-k's mergeable state: ``(counters, hashes, values)`` — CMS
    counters plus candidate values and their int64 hashes.  Merge adds
    the counters and unions the candidates, keeping the first of each
    hash; the hashes travel in the state's bytes, never through a
    nullable (float-converted) pandas column."""

    cms: CmsSketch

    def merge(self, s1: tuple, s2: tuple) -> tuple:
        return self.merge_many([s1, s2])

    def merge_many(self, states: list) -> tuple:
        hashes = np.concatenate([st[1] for st in states])
        values = np.concatenate([st[2] for st in states])
        _, first = np.unique(hashes, return_index=True)
        first.sort()
        return self.cms.merge_many([st[0] for st in states]), hashes[first], values[first]

    def to_bytes(self, state: tuple) -> bytes:
        counters, hashes, values = state
        cms = self.cms.to_bytes(counters)
        enc = [v.encode() for v in values]
        lens = np.array([len(b) for b in enc], dtype=np.int64)
        return (
            struct.pack("<qq", len(cms), len(hashes))
            + cms + hashes.tobytes() + lens.tobytes() + b"".join(enc)
        )

    def from_bytes(self, data: bytes) -> tuple:
        n_cms, n = struct.unpack_from("<qq", data)
        off = 16 + n_cms
        counters = self.cms.from_bytes(data[16:off])
        hashes = np.frombuffer(data, dtype=np.int64, count=n, offset=off).copy()
        lens = np.frombuffer(data, dtype=np.int64, count=n, offset=off + 8 * n)
        ends = off + 16 * n + np.cumsum(lens)
        values = np.empty(n, dtype=object)
        values[:] = [data[e - ln : e].decode() for e, ln in zip(ends.tolist(), lens.tolist())]
        return counters, hashes, values


def _fused_partials(
    df: DataFrame,
    col: str,
    group_by: Sequence[str],
    sk: CmsSketch,
    per_part: int,
) -> DataFrame:
    """ONE pass over the input producing one ``CmsCandidates`` state per
    (partition x group): the CMS partial plus the partition's
    Misra-Gries survivors (two separate scans would read the whole
    input twice for one query — at 100 TB, the dominant cost).  Rows
    are (group cols, state, part_id), the ``build_partials`` shape
    ``tree_merge`` reads.  Per-partition memory stays O(groups x CMS
    size + groups x C counters)."""
    gcols = list(group_by)
    cap = per_part * 4
    sel = gcols + [
        F.col(col).cast("string").alias("_value"),
        F.xxhash64(F.col(col)).alias("_vh"),
    ]
    prepared = df.where(F.col(col).isNotNull()).select(*sel)
    gfields = (
        [prepared.schema[g] for g in gcols]
        if gcols
        else [T.StructField(GROUP_ALL, T.IntegerType())]
    )
    out_schema = T.StructType(
        gfields
        + [
            T.StructField("state", T.BinaryType()),
            T.StructField("part_id", T.IntegerType()),
        ]
    )
    keycols = gcols + ["_value"]
    state_sk = CmsCandidates(sk)

    def _mg_trim(acc: pd.DataFrame) -> pd.DataFrame:
        """Keep <= cap counters per group by the MG merge rule
        (mergeable summaries): if more remain, subtract the (cap+1)-th
        largest count from all and drop the non-positive — the total
        undercount stays <= N_p/(cap+1).  MG counts are lower bounds;
        the final ranking uses the CMS."""
        if gcols:
            def trim(g: pd.DataFrame) -> pd.DataFrame:
                if len(g) <= cap:
                    return g
                thr = g["_lcount"].nlargest(cap + 1).iloc[-1]
                g = g.assign(_lcount=g["_lcount"] - thr)
                return g[g["_lcount"] > 0]

            return acc.groupby(
                gcols, sort=False, dropna=False, group_keys=False
            ).apply(trim)
        if len(acc) <= cap:
            return acc
        thr = acc["_lcount"].nlargest(cap + 1).iloc[-1]
        acc = acc.assign(_lcount=acc["_lcount"] - thr)
        return acc[acc["_lcount"] > 0]

    def _groups(pdf: pd.DataFrame):
        """(group key, row positions) per group of ``pdf``.  A NULL key
        comes out as None: pandas hands it back as None or as a fresh
        NaN, and NaN keys never match in a dict."""
        codes, uniq = factorize_keys(pdf, gcols)
        order = np.argsort(codes, kind="stable")
        bounds = np.searchsorted(codes[order], np.arange(len(uniq) + 1))
        for g, key in enumerate(uniq.itertuples(index=False, name=None)):
            key = tuple(None if v is None or v != v else v for v in key)
            yield key, order[bounds[g] : bounds[g + 1]]

    def fused(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        states: dict[tuple, np.ndarray] = {}
        acc: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            vh = pdf["_vh"].to_numpy()
            for key, idx in _groups(pdf):
                st = states.get(key)
                if st is None:
                    st = states[key] = sk.empty()
                sk.update(st, vh[idx])
            g = (
                pdf.groupby(keycols if gcols else ["_value"], sort=False, dropna=False)
                .agg(_vh=("_vh", "first"), _lcount=("_vh", "size"))
                .reset_index()
            )
            if acc is None:
                acc = g
            else:
                acc = (
                    pd.concat([acc, g])
                    .groupby(keycols if gcols else ["_value"], sort=False, dropna=False)
                    .agg(_vh=("_vh", "first"), _lcount=("_lcount", "sum"))
                    .reset_index()
                )
            acc = _mg_trim(acc)
        cands: dict[tuple, tuple] = {}
        if acc is not None and len(acc):
            hashes = acc["_vh"].to_numpy(dtype=np.int64)
            values = acc["_value"].to_numpy(dtype=object)
            cands = {key: (hashes[idx], values[idx]) for key, idx in _groups(acc)}
        none = (np.empty(0, dtype=np.int64), np.empty(0, dtype=object))
        rows = [
            list(kk) + [state_sk.to_bytes((st, *cands.get(kk, none))), pid]
            for kk, st in states.items()
        ]
        yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return prepared.mapInPandas(fused, out_schema)


def _top_k_finisher(sk: CmsSketch, k: int, out_value: str, out_count: str) -> Finisher:
    """``tree_merge`` finisher: each group's candidates scored against
    its merged CMS, top k by count desc, then value asc."""
    fields = [
        T.StructField(out_value, T.StringType()),
        T.StructField(out_count, T.LongType()),
    ]

    def fn(keys: pd.DataFrame, states: list) -> pd.DataFrame:
        tops = [
            pd.DataFrame({out_value: values, out_count: sk.query(counters, hashes)})
            .sort_values([out_count, out_value], ascending=[False, True])
            .head(k)
            for counters, hashes, values in states
        ]
        rows = keys.loc[keys.index.repeat([len(t) for t in tops])].reset_index(drop=True)
        body = pd.concat(tops, ignore_index=True)
        return pd.concat([rows, body], axis=1)

    return fields, fn


def approx_top_k(
    df: DataFrame,
    col: str,
    k: int = 10,
    group_by: Sequence[str] = (),
    eps: float = 1.0 / (1 << 14),
    delta: float = 0.01,
    out_value: str = "value",
    out_count: str = "est_count",
) -> DataFrame:
    """Heavy hitters with CMS-estimated counts (overestimate <= eps*N w.p. 1-delta).

    Two Python stages: one fused pass builds a ``CmsCandidates`` state
    per (partition x group) (``_fused_partials``), and the tree merge's
    last round scores the merged candidates (``_top_k_finisher``).  A
    group whose key is NULL is a group like any other."""
    sk = CmsSketch(eps=eps, delta=delta)
    partials = _fused_partials(df, col, group_by, sk, per_part=k)
    finish = _top_k_finisher(sk, k, out_value, out_count)
    return tree_merge(partials, CmsCandidates(sk), group_by, finish=finish)


def approx_frequency(
    df: DataFrame,
    col: str,
    items: Sequence,
    group_by: Sequence[str] = (),
    eps: float = 1.0 / (1 << 14),
    delta: float = 0.01,
) -> DataFrame:
    """CMS point-estimates for explicit items, per group."""
    sk = CmsSketch(eps=eps, delta=delta)
    spark = df.sparkSession
    merged = cms_sketch_table(df, col, group_by, eps, delta)
    gcols = list(group_by)
    gnames = gcols if gcols else [GROUP_ALL]
    coltype = dict(df.dtypes)[col] if isinstance(col, str) else "string"
    cast = F.col("item").try_cast(coltype)  # ANSI-safe: malformed -> NULL
    items_df = spark.createDataFrame([(str(i),) for i in items], ["item"]).select(
        "item",
        F.xxhash64(cast).alias("_vh"),
        # a value that doesn't cast to the column's type can't occur in
        # the data: report 0, never the garbage at xxhash64(NULL)
        cast.isNull().alias("_miscast"),
    )
    # all items fold into one array row; each group's state travels once
    items_agg = items_df.agg(
        F.collect_list(F.struct("item", "_vh", "_miscast")).alias("_items")
    )
    joined = merged.crossJoin(F.broadcast(items_agg))
    out_fields = [merged.schema[g] for g in gnames] + [
        T.StructField("item", T.StringType()),
        T.StructField("est_count", T.LongType()),
    ]

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for _, row in pdf.iterrows():
            state = sk.from_bytes(row["state"])
            its = row["_items"]
            vhs = np.array([i["_vh"] if i["_vh"] is not None else 0 for i in its], dtype=np.int64)
            est = sk.query(state, vhs)
            est = np.where([i["_miscast"] for i in its], 0, est)
            out = pd.DataFrame({"item": [i["item"] for i in its], "est_count": est})
            for g in gnames:
                out.insert(0, g, row[g])
            outs.append(out)
        return pd.concat(outs) if outs else pd.DataFrame(columns=gnames + ["item", "est_count"])

    res = joined.groupBy(*gnames).applyInPandas(score, T.StructType(out_fields))
    return res.drop(GROUP_ALL) if not gcols else res
