"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and a random-
hyperplane LSH-bucketed variant as the scale path (buckets prune the
candidate set; multi-probe widens recall).  Embedding-cosine near-
duplicate pairs for dedup pipelines.

One hyperplane signer: ``_planes`` draws the (dim x bands*planes)
float32 planes from ``default_rng(seed)`` and ``_plane_keys`` packs
the sign bits of each band's planes into an int64 key.  The row
signers (``band_signatures``, and ``hyperplane_signature``, its one-band
case) and ``ann_top_k``'s query bucket all use it, so a query lands
in exactly the bucket ids its rows get.  A NULL vector gets NULL keys:
it joins no bucket, pairs with nothing and is never probed.  The
near-duplicate pairs run ``dedup._banded_pairs``, the pipeline the
MinHash and SimHash operators share.

JVM vs Python split: dot products over a whole partition are one
numpy matrix multiply inside a Pandas UDF (Arrow-batched) — this
beats per-element ``F.aggregate``/``zip_with`` expression trees for
wide vectors while staying fully vectorized.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PLANE_SEED = 0xB1A5E5


def _normalize(v: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(v)
    return v / n if n > 0 else v


def _row_norms(m: np.ndarray, keepdims: bool = False) -> np.ndarray:
    """Row L2 norms of ``m``, 1 for a zero row (dividing leaves it zero)."""
    n = np.linalg.norm(m, axis=1, keepdims=keepdims)
    n[n == 0] = 1.0
    return n


def cosine_scores(vec_col: str, query: Sequence[float]):
    """Column of cosine similarities vs a fixed query vector.

    One numpy matvec per Arrow batch; NaN-safe for zero vectors.  A
    NULL vector scores NULL.
    """
    q = _normalize(np.asarray(query, dtype=np.float64))

    @F.pandas_udf(T.DoubleType())
    def _cos(vs: pd.Series) -> pd.Series:
        ok = vs.notna().to_numpy()
        out = np.full(len(vs), np.nan)
        if ok.any():
            m = np.vstack(vs[ok].to_numpy()).astype(np.float64)
            out[ok] = (m @ q) / _row_norms(m)
        return pd.Series(out)  # NaN goes out as NULL

    return _cos(F.col(vec_col))


def cosine_top_k(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k.

    Spark's orderBy+limit compiles to TakeOrderedAndProject: each
    partition keeps only its local top-k, the driver merges — no
    global sort, no full shuffle.  This is the 100 TB-safe exact
    baseline.  A NULL vector's NULL score ranks after every scored row.
    """
    scored = df.withColumn("cosine", cosine_scores(vec_col, query))
    order = [F.desc("cosine")] + ([F.col(id_col)] if id_col else [])
    return scored.orderBy(*order).limit(k)


def _planes(dim: int, n: int, seed: int) -> np.ndarray:
    """The (dim x n) float32 random hyperplanes every signer draws."""
    return np.random.default_rng(seed).standard_normal((dim, n)).astype(np.float32)


def _plane_keys(m: np.ndarray, H: np.ndarray, planes: int) -> np.ndarray:
    """Bucket keys of the vectors in ``m`` (rows of a matrix, or one
    vector): band b's key packs the sign bits of the dots with H's
    columns b*planes .. (b+1)*planes-1, bit j for the band's j-th
    plane.  Shape (rows, bands), or (bands,) for one vector.  The
    product runs in ``m``'s dtype, so callers fix it: rows keep their
    column's dtype, a query is cast to float32."""
    bits = (m @ H) >= 0
    bits = bits.reshape(*bits.shape[:-1], -1, planes)
    return (bits * (1 << np.arange(planes, dtype=np.int64))).sum(axis=-1)


def band_signatures(vec_col: str, dim: int, bands: int, planes: int, seed: int = _PLANE_SEED):
    """Column: array<long> of per-band hyperplane bucket keys
    (``_plane_keys``) — one (dim x bands*planes) matmul per Arrow
    batch.  A NULL vector gets NULL keys: it joins no bucket."""
    H = _planes(dim, bands * planes, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(vs: pd.Series) -> pd.Series:
        ok = vs.notna().to_numpy()
        keys = iter(_plane_keys(np.vstack(vs[ok].to_numpy()), H, planes) if ok.any() else ())
        return pd.Series([next(keys) if o else None for o in ok])

    return _sig(F.col(vec_col))


def hyperplane_signature(vec_col: str, dim: int, planes: int = 16, seed: int = _PLANE_SEED):
    """Column: LSH bucket id = sign bits of dot with random hyperplanes
    (band 0 of a one-band ``band_signatures``; NULL for a NULL vector)."""
    return band_signatures(vec_col, dim, 1, planes, seed)[0]


def ann_top_k(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    planes: int = 12,
    probe_bits: int = 1,
    id_col: str | None = None,
    seed: int = _PLANE_SEED,
) -> DataFrame:
    """Approximate top-k: scan only LSH buckets near the query's.

    multi-probe: also visits buckets within ``probe_bits`` bit flips
    of the query bucket (recall/latency knob).  At scale, store the
    signature column at write time (partition/z-order by it) so this
    becomes a partition-pruned scan.  A NULL vector is in no bucket.
    """
    dim = len(query)
    q = np.asarray(query, dtype=np.float32)
    qsig = int(_plane_keys(q, _planes(dim, planes, seed), planes)[0])
    probes = {qsig}
    if probe_bits >= 1:
        for j in range(planes):
            probes.add(qsig ^ (1 << j))
    if probe_bits >= 2:
        for j in range(planes):
            for l in range(j + 1, planes):
                probes.add(qsig ^ (1 << j) ^ (1 << l))
    sig = hyperplane_signature(vec_col, dim, planes, seed)
    pruned = df.withColumn("_sig", sig).where(F.col("_sig").isin(list(probes))).drop("_sig")
    return cosine_top_k(pruned, vec_col, query, k, id_col)


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 256,
    sample_rows: int = 8192,
    kmeans_iters: int = 8,
    seed: int = _PLANE_SEED,
    cluster_col: str = "ivf_cluster",
) -> tuple[DataFrame, np.ndarray]:
    """IVF (inverted-file) index build: coarse k-means centroids from a
    driver-side sample, then one matmul per Arrow batch assigns every
    vector to its nearest centroid.

    Returns (df + cluster column, centroid matrix (n_centroids, dim),
    L2-normalized).  At scale, WRITE the table partitioned by the
    cluster column: queries then probe a handful of clusters as
    partition-pruned scans (the standard IVF-flat layout, expressed as
    Spark partitioning).  Centroid training is a bounded driver-side
    sample — the cluster-scale path would swap in ML-lib k-means
    without changing the assignment or probe stages.
    """
    # hash-ordered top-N = a deterministic uniform sample; plain
    # limit() takes the FIRST partitions, which on a clustered/sorted
    # table trains every centroid on one region of the space
    samp_df = (
        df.select(F.col(vec_col).alias("_v"))
        .withColumn("_r", F.xxhash64(F.col("_v"), F.lit(seed)))
        .orderBy("_r")
        .limit(int(sample_rows))
    )
    samp = np.vstack(samp_df.toPandas()["_v"].to_numpy()).astype(np.float64)
    samp = samp / _row_norms(samp, keepdims=True)
    k = min(n_centroids, len(samp))
    rng = np.random.default_rng(seed)
    cent = samp[rng.choice(len(samp), size=k, replace=False)]
    for _ in range(kmeans_iters):
        # spherical k-means: assign by max cosine, recenter, renormalize
        assign = np.argmax(samp @ cent.T, axis=1)
        for c in range(k):
            members = samp[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    C = cent.astype(np.float32)

    @F.pandas_udf(T.IntegerType())
    def _assign(vs: pd.Series) -> pd.Series:
        m = np.vstack(vs.to_numpy()).astype(np.float32)
        unit = m / _row_norms(m, keepdims=True)
        return pd.Series(np.argmax(unit @ C.T, axis=1).astype(np.int32))

    return df.withColumn(cluster_col, _assign(F.col(vec_col))), cent


def ivf_top_k(
    indexed: DataFrame,
    centroids: np.ndarray,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    n_probes: int = 8,
    id_col: str | None = None,
    cluster_col: str = "ivf_cluster",
) -> DataFrame:
    """IVF probe: exact cosine top-k over only the ``n_probes``
    clusters nearest the query — a cluster-column filter, so on a
    table written partitioned by cluster it is a partition-pruned scan
    followed by TakeOrderedAndProject."""
    q = _normalize(np.asarray(query, dtype=np.float64))
    order = np.argsort(-(centroids @ q))[: int(n_probes)]
    probed = indexed.where(F.col(cluster_col).isin([int(c) for c in order]))
    return cosine_top_k(probed.drop(cluster_col), vec_col, query, k, id_col)


def _lsh_params(n: int, threshold: float, collisions_per_row: float = 1.0) -> tuple[int, int]:
    """(planes per band, bands), sized so CANDIDATE VERIFICATION stays
    linear: a random (near-orthogonal) pair collides in one band with
    probability ~0.5^planes, so expected random candidates per band are
    n^2/2 * 0.5^planes — planes = log2(n / (2*collisions_per_row))
    bounds that at ~collisions_per_row * n total.  Bands then restore
    recall for TRUE pairs at ``threshold``:
    P[caught] = 1 - (1 - (1-theta/pi)^planes)^bands >= 0.9.

    The earlier "target expected bucket ~1024 rows" sizing was a
    scale bug: a bucket of 1024 random vectors already emits ~500k
    all-pairs candidates; bucket size must be O(1), not O(1024)."""
    planes = int(np.clip(np.ceil(np.log2(max(n, 4) / (2.0 * collisions_per_row))), 8, 40))
    bands = _bands_for(planes, threshold)
    return planes, bands


def _bands_for(planes: int, threshold: float, target_recall: float = 0.9) -> int:
    """Bands needed for ``target_recall`` at ``threshold`` given a band
    key of ``planes`` bits, capped at 32 for bounded cost — warns when
    the cap actually costs recall (loose thresholds at extreme scale)."""
    theta = float(np.arccos(np.clip(threshold, -1.0, 1.0)))
    p_band = (1.0 - theta / np.pi) ** planes
    need = int(np.ceil(np.log(1 - target_recall) / np.log(max(1.0 - p_band, 1e-12))))
    bands = int(np.clip(need, 1, 32))
    if need > 32:
        import warnings

        recall = 1 - (1 - p_band) ** bands
        warnings.warn(
            f"LSH bands capped at 32 (needed {need} for {target_recall:.0%} recall "
            f"at threshold {threshold}): expected recall ~{recall:.0%}. Raise "
            "`bands` explicitly, raise the threshold, or run twice with "
            "different seeds and union.",
            RuntimeWarning,
            stacklevel=3,
        )
    return bands


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int | None = None,
    bands: int | None = None,
    seed: int = _PLANE_SEED,
    n_rows: int | None = None,
    hot_bucket_cap: int = 2048,
    collisions_per_row: float = 1.0,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold — banded hyperplane
    LSH, scale-safe at 10^9+ vectors:

    * ``planes`` grows with corpus size (~log2 n) so EXPECTED RANDOM
      candidates stay ~``collisions_per_row`` per row per band — no
      fixed bucket universe that degenerates to quadratic verify work;
    * multiple independent ``bands`` recover the recall that longer
      keys cost: P[caught] = 1-(1-p^planes)^bands >= 0.9 at threshold;
    * buckets above ``hot_bucket_cap`` (typically piles of identical
      vectors) link members to a representative instead of all-pairs
      (same ``_bucket_pairs`` kernel as MinHash-LSH);
    * candidates are verified with EXACT cosine (pairs only — never a
      per-bucket O(m^2) matrix), so precision is 1 by construction.

    Pass ``n_rows`` if known to skip the sizing count.
    """
    from .dedup import _banded_pairs

    first = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if first is None:  # empty input: empty pair set, not a crash
        return df.sparkSession.createDataFrame(
            [],
            T.StructType([
                T.StructField("id_a", df.schema[id_col].dataType),
                T.StructField("id_b", df.schema[id_col].dataType),
                T.StructField("cosine", T.DoubleType()),
            ]),
        )
    dim = len(first[vec_col])
    if planes is None and bands is None:
        n = n_rows if n_rows is not None else df.count()
        planes, bands = _lsh_params(n, threshold, collisions_per_row)
    elif planes is None:  # bands given: size planes from the corpus
        n = n_rows if n_rows is not None else df.count()
        planes, _ = _lsh_params(n, threshold, collisions_per_row)
    elif bands is None:  # planes given: bands must match THAT geometry
        bands = _bands_for(planes, threshold)

    @F.pandas_udf(T.DoubleType())
    def _pair_cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.vstack(a.to_numpy()).astype(np.float64)
        mb = np.vstack(b.to_numpy()).astype(np.float64)
        return pd.Series((ma * mb).sum(axis=1) / (_row_norms(ma) * _row_norms(mb)))

    # exact-cosine verification of candidates only
    return _banded_pairs(
        df.select(id_col, vec_col), id_col,
        keys=band_signatures(vec_col, dim, bands, planes, seed),
        payload=vec_col,
        score=lambda a, b: _pair_cos(a, b).alias("cosine"),
        keep=F.col("cosine") >= threshold,
        hot_bucket_cap=hot_bucket_cap,
        warn_op="embedding_near_duplicates",
    )


def dedup_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicate embeddings, keeping the min-id representative
    (a row with a NULL vector pairs with nothing and stays)."""
    from . import dedup

    pairs = embedding_near_duplicates(df, id_col, vec_col, threshold, **kwargs)
    return dedup._keep_representatives(df, id_col, pairs)
