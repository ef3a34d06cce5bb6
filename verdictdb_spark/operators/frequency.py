"""Approximate frequency / heavy-hitter queries via count-min sketch.

Answers ``SELECT v, COUNT(*) FROM t GROUP BY v ORDER BY 2 DESC LIMIT k``
over high-cardinality keys without an exact global group-by:

1. map-side: per-partition CMS partials (mergeable) AND a per-partition
   Misra-Gries summary of C counters as the candidate source.  The MG
   guarantee (mergeable-summaries, Agarwal et al. 2013): a summary of
   C counters over N_p rows undercounts any value by at most
   N_p/(C+1), so every value with true partition frequency
   > N_p/(C+1) survives — hence every value with GLOBAL frequency
   > N/(C+1) survives in at least one partition's summary (it must
   exceed the local threshold somewhere).  With C = 4k the global
   top-k is recovered whenever the k-th heavy hitter holds > 1/(4k+1)
   of the mass; below that no candidate-based scheme distinguishes
   heavy from noise anyway.  Per-partition memory is O(C), never the
   distinct-value count.
2. tree-merge the CMS states;
3. score the (few) candidates against the merged CMS and keep k
   (CMS estimates are one-sided: overestimate <= eps*N w.p. 1-delta).

At 10^12 rows nothing but sketch states and <= partitions*C candidate
rows ever shuffles.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sketches.cms import CmsSketch
from .approx_agg import GROUP_ALL, build_partials, tree_merge


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


def _fused_partials(
    df: DataFrame,
    col: str,
    group_by: Sequence[str],
    sk: CmsSketch,
    per_part: int,
) -> DataFrame:
    """ONE pass over the input producing BOTH the per-(partition x
    group) CMS partial states and the Misra-Gries candidate summaries
    (two separate scans would read the whole input twice for one
    query — at 100 TB, the dominant cost).  Output rows
    are tagged by kind: state rows carry (group cols, state, part_id);
    candidate rows carry (group cols, _value, _vh, _lcount); the other
    columns are NULL.  Per-partition memory stays O(groups x CMS size
    + groups x C counters) exactly as before."""
    import pandas as pd  # noqa: F811 (local alias for closure pickling)

    gcols = list(group_by)
    cap = per_part * 4
    sel = gcols + [
        F.col(col).cast("string").alias("_value"),
        F.xxhash64(F.col(col)).alias("_vh"),
    ]
    prepared = df.where(F.col(col).isNotNull()).select(*sel)
    gnames = gcols if gcols else [GROUP_ALL]
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
            T.StructField("_value", T.StringType()),
            T.StructField("_vh", T.LongType()),
            T.StructField("_lcount", T.LongType()),
        ]
    )
    keycols = gcols + ["_value"]

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

    def fused(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        states: dict[tuple, "np.ndarray"] = {}
        acc: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            vh = pdf["_vh"].to_numpy()
            if gcols:
                grouped = pdf.groupby(gcols, sort=False, dropna=False).indices
            else:
                grouped = {(0,): np.arange(len(pdf))}
            for key, idx in grouped.items():
                kk = key if isinstance(key, tuple) else (key,)
                st = states.get(kk)
                if st is None:
                    st = states[kk] = sk.empty()
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
        cols = [f.name for f in out_schema.fields]
        rows = [
            list(kk) + [sk.to_bytes(st), pid, None, None, None]
            for kk, st in states.items()
        ]
        out = pd.DataFrame(rows, columns=cols)
        if acc is not None and len(acc):
            cand = pd.DataFrame(
                {
                    **({g: acc[g] for g in gcols} if gcols else {GROUP_ALL: 0}),
                    "state": None,
                    "part_id": pid,
                    "_value": acc["_value"],
                    "_vh": acc["_vh"],
                    "_lcount": acc["_lcount"],
                }
            )
            out = pd.concat([out, cand], ignore_index=True)
        yield out

    return prepared.mapInPandas(fused, out_schema)


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

    One fused pass builds the CMS partials and the Misra-Gries
    candidates together (``_fused_partials``); the combined partial
    frame — KBs per (partition x group) — is localCheckpointed so the
    state and candidate branches read it without re-scanning the
    source."""
    sk = CmsSketch(eps=eps, delta=delta)
    gcols = list(group_by)
    gnames = gcols if gcols else [GROUP_ALL]
    partials = _fused_partials(df, col, gcols, sk, per_part=k).localCheckpoint()
    merged = tree_merge(
        partials.where(F.col("state").isNotNull()).select(
            *gnames, "state", "part_id"
        ),
        sk,
        group_by,
    )
    cand = (
        partials.where(F.col("_value").isNotNull())
        .groupBy(*gnames, "_value", "_vh")
        .agg(F.sum("_lcount").alias("_lb"))
    )
    # ONE row per group on each side of the join: candidates fold into
    # an array first, so the ~MB CMS state is never replicated onto (and
    # shuffled with) every candidate row
    cand_agg = cand.groupBy(*gnames).agg(
        F.collect_list(F.struct("_value", "_vh")).alias("_cands")
    )
    joined = merged.join(cand_agg, on=gnames, how="inner")

    out_fields = [merged.schema[g] for g in gcols] + [
        T.StructField(out_value, T.StringType()),
        T.StructField(out_count, T.LongType()),
    ]

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for _, row in pdf.iterrows():
            state = sk.from_bytes(row["state"])
            vals = np.array([c["_value"] for c in row["_cands"]], dtype=object)
            vhs = np.array([c["_vh"] for c in row["_cands"]], dtype=np.int64)
            est = sk.query(state, vhs)
            # deterministic top-k: count desc, then value asc tie-break
            out = (
                pd.DataFrame({out_value: vals, out_count: est})
                .sort_values([out_count, out_value], ascending=[False, True])
                .head(k)
            )
            for g in gcols:
                out.insert(0, g, row[g])
            outs.append(out[gcols + [out_value, out_count]])
        return pd.concat(outs) if outs else pd.DataFrame(
            columns=gcols + [out_value, out_count]
        )

    return joined.groupBy(*gnames).applyInPandas(score, T.StructType(out_fields))


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
