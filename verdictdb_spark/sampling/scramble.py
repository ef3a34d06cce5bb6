"""Scramble creation — deterministic block-sampled table copies.

Rebuild of the reference's scramble machinery
(``core/scrambling/``): a scramble of table T is T plus
``verdictdbtier`` (stratum id) and ``verdictdbblock`` (block id,
physically the partition column — ``ScramblingNode.java:164-166``),
with a per-tier cumulative probability distribution over blocks as
metadata (``ScrambleMeta.java:93-99``).  A prefix of blocks is a
uniform (or hash-universe) sample whose inclusion probability is the
CDF mass — the entire statistical contract.

Differences from the reference, on purpose:
* block assignment is a **deterministic hash** (xxhash64 of the row /
  of the sample column), not ``rand()`` (``UniformScramblingMethod
  .java:166-177``) — north_rule requires reproducible runs;
* metadata is a JSON sidecar next to the parquet table, not a
  metastore table (``metastore/ScrambleMetaStore.java:53-65``).

Block-count policy mirrors the reference: target 1e6 rows/block,
max 100 blocks (``SqlSyntax.getRecommendedblockSize:62-64``,
``UniformScramblingMethod.java:60``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TIER_COL = "verdictdbtier"
BLOCK_COL = "verdictdbblock"

DEFAULT_BLOCK_SIZE = 1_000_000
MAX_BLOCK_COUNT = 100


@dataclass
class ScrambleMeta:
    """JSON-serializable scramble contract (mirrors ScrambleMeta.java)."""

    method: str  # "uniform" | "hash"
    nblocks: int
    hash_column: str | None = None
    seed: int = 42
    original_count: int | None = None
    # cdf[tier][k] = P(row of tier t lands in blocks 0..k); uniform blocks
    # => cdf[t][k] = (k+1)/nblocks for both methods.
    cdf: dict[int, list[float]] = field(default_factory=dict)
    # fastconverge tier statistics, persisted so APPEND can re-derive
    # tiers for new rows exactly as create did (the reference stores
    # them in the metastore and reuses them on append,
    # ScramblingCoordinator.appendScramble:212-285): mu/sd of the
    # outlier column, the large-group list (<= 1/threshold entries by
    # construction — ~100 at the 1% default, bounded at any scale),
    # and the column order feeding the row hash.
    fc_stats: dict | None = None

    def __post_init__(self):
        if not self.cdf:
            self.cdf = {0: [(i + 1) / self.nblocks for i in range(self.nblocks)]}

    def coverage(self, upto_block: int, tier: int = 0) -> float:
        """CDF mass of blocks [0, upto_block] — the inclusion probability
        used for Horvitz-Thompson inverse scaling (AggMeta.java:170-185)."""
        return self.cdf[tier][min(upto_block, self.nblocks - 1)]

    def block_prob(self, block: int, tier: int = 0) -> float:
        """Inclusion probability of a SINGLE block for a tier — the CDF
        increment.  Uniform scrambles give 1/nblocks everywhere;
        fastconverge tiers are front-loaded, partial-size scrambles
        sum to < 1 over the kept blocks."""
        c = self.cdf[tier]
        return c[block] - (c[block - 1] if block > 0 else 0.0)

    def to_json(self) -> str:
        return json.dumps(
            {
                "method": self.method,
                "nblocks": self.nblocks,
                "hash_column": self.hash_column,
                "seed": self.seed,
                "original_count": self.original_count,
                "cdf": {str(t): c for t, c in self.cdf.items()},
                "fc_stats": self.fc_stats,
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "ScrambleMeta":
        d = json.loads(s)
        return cls(
            method=d["method"],
            nblocks=d["nblocks"],
            hash_column=d.get("hash_column"),
            seed=d.get("seed", 42),
            original_count=d.get("original_count"),
            cdf={int(t): c for t, c in d["cdf"].items()},
            fc_stats=d.get("fc_stats"),
        )


def _unit_expr(columns, seed: int):
    """Deterministic uniform [0,1) from a row hash — the ONE definition
    shared by create/append so old and new rows always agree."""
    h = F.xxhash64(*[F.col(c) for c in columns], F.lit(seed))
    return (h.cast("double") / F.lit(float(2**64))) + F.lit(0.5)


def _block_expr(method: str, columns, seed: int, m: int, hash_column: str | None = None):
    """Row -> block id in [0, m): the single block-assignment definition
    used by create_scramble AND append_scramble (drift between the two
    would silently break the append statistical contract)."""
    if method == "uniform":
        h = F.xxhash64(*[F.col(c) for c in columns], F.lit(seed))
        return F.pmod(h, F.lit(m)).cast("int")
    if method == "hash":
        unit = _unit_expr([hash_column], seed)
        return F.least(F.floor(unit * m).cast("int"), F.lit(m - 1))
    raise ValueError(f"no block expression for method {method!r}")


def recommended_block_count(n_rows: int, block_size: int = DEFAULT_BLOCK_SIZE) -> int:
    """clamp(ceil(rows/block_size), 1, 100) — reference policy."""
    return max(1, min((n_rows + block_size - 1) // block_size, MAX_BLOCK_COUNT))


def create_scramble(
    df: DataFrame,
    method: str = "uniform",
    column: str | None = None,
    nblocks: int | None = None,
    block_size: int = DEFAULT_BLOCK_SIZE,
    seed: int = 42,
    size: float = 1.0,
    nrows: int | None = None,
) -> tuple[DataFrame, ScrambleMeta]:
    """Attach tier + block columns; return (scrambled df, meta).

    uniform: block = pmod(xxhash64(all columns, seed), n) — a
      deterministic stand-in for the reference's floor(rand()*n).
    hash:    block = floor(unit_hash(column) * n) — a prefix of blocks
      is a hash-universe sample of ``column``
      (HashScramblingMethod.java:167-180), which is what makes
      progressive COUNT(DISTINCT column) sum-mergeable: each distinct
      value lands in exactly one block.

    ``size`` < 1 builds a PARTIAL scramble (the reference's ``SIZE p``,
    ``UniformScramblingMethod.java:83-177``): rows are hashed over
    ceil(nblocks/size) virtual blocks and only the first ``nblocks``
    are kept, so the scramble holds ~``size`` of the table and full
    coverage of it estimates the ORIGINAL table with scale 1/size —
    at 100 TB a 1% scramble is the first thing a user builds.

    ``nrows``: pass the row count when known to skip the eager
    ``df.count()`` (it is only used for the block-count policy and the
    empty-table check; with explicit ``nblocks`` no count runs at all).
    """
    if not (0.0 < size <= 1.0):
        raise ValueError("size must be in (0, 1]")
    cnt = nrows
    if cnt is None and nblocks is None:
        cnt = df.count()
    if cnt == 0:
        # reference throws on empty scrambles (ScramblingNode.java:237-240)
        raise ValueError("cannot scramble an empty table")
    n = nblocks or recommended_block_count(int(cnt * size), block_size)
    # virtual block universe: kept prefix [0, n) out of m total
    m = int(np.ceil(n / size)) if size < 1.0 else n
    cdf = {0: [(k + 1) / m for k in range(n)]}
    if method == "uniform":
        block = _block_expr("uniform", df.columns, seed, m)
        meta = ScrambleMeta(
            method="uniform", nblocks=n, seed=seed, original_count=cnt, cdf=cdf
        )
    elif method == "hash":
        if not column:
            raise ValueError("hash scramble requires a column")
        block = _block_expr("hash", df.columns, seed, m, hash_column=column)
        meta = ScrambleMeta(
            method="hash", nblocks=n, hash_column=column, seed=seed,
            original_count=cnt, cdf=cdf,
        )
    else:
        raise ValueError(f"unknown scramble method {method!r} (uniform|hash)")
    out = df.withColumn(TIER_COL, F.lit(0)).withColumn(BLOCK_COL, block)
    if m > n:
        out = out.where(F.col(BLOCK_COL) < n)
    return out, meta


def _pack_tier_cdfs(n0: int, n1: int, n2: int, nblocks: int) -> dict[int, list[float]]:
    """The reference's FastConverge block-packing contract
    (``FastConvergeScramblingMethod.java:75-78,317-460``): fill blocks
    left-to-right with tier 0 occupying at most 50% of each block and
    tiers 0+1 at most 80%; tier 2 takes the remaining capacity.  Rare
    tiers therefore concentrate in the early blocks (fast convergence
    for outliers/small groups) without ever flooding a block.  Returns
    per-tier CDFs over blocks; overflow beyond a cap (a tier bigger
    than its total cap) spreads uniformly.
    """
    total = n0 + n1 + n2
    nb = nblocks
    B = total / nb  # nominal rows per block
    alloc = np.zeros((3, nb))
    # tier 0: <= 50% of each block, front-loaded
    rem = float(n0)
    for b in range(nb):
        take = min(0.5 * B, rem)
        alloc[0, b] = take
        rem -= take
        if rem <= 0:
            break
    if rem > 0:
        alloc[0] += rem / nb
    # tier 1: fills up to the 80% cumulative cap, front-loaded
    rem = float(n1)
    for b in range(nb):
        take = min(max(0.8 * B - alloc[0, b], 0.0), rem)
        alloc[1, b] = take
        rem -= take
        if rem <= 0:
            break
    if rem > 0:
        alloc[1] += rem / nb
    # tier 2: remaining capacity, normalized to its true size
    cap2 = np.maximum(B - alloc[0] - alloc[1], 0.0)
    alloc[2] = cap2 * (n2 / cap2.sum()) if cap2.sum() > 0 and n2 > 0 else 0.0
    cdfs: dict[int, list[float]] = {}
    for t, nt in enumerate((n0, n1, n2)):
        if nt > 0:
            c = np.cumsum(alloc[t]) / alloc[t].sum()
            c[-1] = 1.0
        else:  # empty tier: uniform placeholder (no rows will use it)
            c = (np.arange(nb) + 1) / nb
        cdfs[t] = [float(x) for x in c]
    return cdfs


def _block_from_cdf(unit, cdf: list[float], nblocks: int):
    """JVM-side searchsorted: block k iff cdf[k-1] < u <= cdf[k] —
    expressed as the count of CDF boundaries strictly below u (an
    array filter inside codegen; the CDF is <= 100 doubles)."""
    arr = F.array(*[F.lit(float(x)) for x in cdf])
    return F.least(F.size(F.filter(arr, lambda x: x < unit)), F.lit(nblocks - 1))


def create_fastconverge_scramble(
    df: DataFrame,
    outlier_column: str | None,
    group_column: str | None = None,
    nblocks: int | None = None,
    block_size: int = DEFAULT_BLOCK_SIZE,
    seed: int = 42,
    large_group_threshold: float = 0.01,
) -> tuple[DataFrame, ScrambleMeta]:
    """Stratified (FastConverge-style) scramble with 3 tiers.

    Mirrors ``FastConvergeScramblingMethod.java``: tier 0 = outlier
    rows (|x - mean| > 3.09 sigma on ``outlier_column``,
    ``FastConvergeScramblingMethod.java:80,196-251``), tier 1 = rows
    of small groups on ``group_column`` (reference uses an anti-join
    against a materialized large-group list, ``:253-282``), tier 2 =
    everything else.  Per-tier CDFs follow the reference's PACKING
    contract — tier 0 occupies <= 50% of each block and tiers 0+1
    <= 80% (``:75-78``) — so early block prefixes over-sample the rare
    strata and estimates converge fast, while no block is flooded by
    one stratum.  Row -> block is a deterministic hash inverse-CDF
    (searchsorted against the tier's CDF, JVM-side).

    Inverse-probability scaling in ``progressive.py`` is already
    per-tier, so no other code changes are needed.
    """
    cnt = df.count()
    if cnt == 0:
        raise ValueError("cannot scramble an empty table")
    n = nblocks or recommended_block_count(cnt, block_size)
    if outlier_column is None:
        # group-only stratification (the legacy "stratified sample on
        # <categorical col>" docs surface): tier 0 is empty, tier 1
        # still protects small groups.  Stored mu/sd of 0 make the
        # append path's `sd > 0` guard disable the outlier tier too.
        mu, sd = 0.0, 0.0
        is_outlier = F.lit(False)
    else:
        stats = df.agg(
            F.avg(outlier_column).alias("mu"),
            F.stddev_pop(outlier_column).alias("sd"),
        ).first()
        if stats["mu"] is None:
            raise ValueError(
                f"outlier column {outlier_column!r} has no numeric "
                "statistics (non-numeric or all-NULL) — pass a numeric "
                "column, or None for group-only stratification"
            )
        mu, sd = float(stats["mu"]), float(stats["sd"] or 0.0)
        is_outlier = (
            F.abs(F.col(outlier_column) - F.lit(mu)) > F.lit(3.09 * sd)
            if sd > 0
            else F.lit(False)
        )
    large_groups: list | None = None
    if group_column is not None:
        large = (
            df.groupBy(group_column)
            .count()
            .where(F.col("count") >= large_group_threshold * cnt)
            .select(group_column)
        )
        # <= 1/threshold groups by construction (~100 at the 1%
        # default) — safe to persist for append at any table size
        large_groups = [r[0] for r in large.collect()]
        in_small = F.col("_lg").isNull()
        # null-safe join: a large NULL group is still a large group
        # (plain equi-join never matches NULL keys -> tier-1 flooding)
        lg = large.withColumnRenamed(group_column, "_lgk").withColumn("_lg", F.lit(1))
        work = df.join(
            F.broadcast(lg), df[group_column].eqNullSafe(lg["_lgk"]), "left"
        ).drop("_lgk")
    else:
        in_small = F.lit(False)
        work = df
    tier = F.when(is_outlier, 0).when(in_small, 1).otherwise(2)
    tiered = work.withColumn(TIER_COL, tier)
    # one pass for the tier sizes that drive the packing
    sizes = {r[TIER_COL]: r["count"] for r in tiered.groupBy(TIER_COL).count().collect()}
    n0, n1, n2 = (int(sizes.get(t, 0)) for t in (0, 1, 2))
    cdf = _pack_tier_cdfs(n0, n1, n2, n)
    unit = _unit_expr(df.columns, seed)
    block = (
        F.when(F.col(TIER_COL) == 0, _block_from_cdf(unit, cdf[0], n))
        .when(F.col(TIER_COL) == 1, _block_from_cdf(unit, cdf[1], n))
        .otherwise(_block_from_cdf(unit, cdf[2], n))
        .cast("int")
    )
    out = tiered.withColumn(BLOCK_COL, block)
    if group_column is not None:
        out = out.drop("_lg")
    meta = ScrambleMeta(
        method="fastconverge", nblocks=n, seed=seed, original_count=cnt, cdf=cdf,
        fc_stats={
            "mu": mu,
            "sd": sd,
            "outlier_column": outlier_column,
            "group_column": group_column,
            "large_groups": large_groups,
            "columns": list(df.columns),
        },
    )
    return out, meta


def append_scramble(
    new_rows: DataFrame, meta: ScrambleMeta
) -> DataFrame:
    """Assign tier/block to NEW rows using the stored meta — the
    reference's scramble append (``ScramblingCoordinator.
    appendScramble:212-285``) reuses the stored CDF so old and new
    blocks stay statistically compatible; with deterministic hashes
    the transform is identical by construction.

    Fastconverge appends re-derive tiers from the PERSISTED stats
    (mu/sd of the outlier column, the large-group list) — new rows
    are striped across blocks by the stored per-tier CDFs, exactly
    as the reference reuses its stored scramble metadata."""
    if meta.method == "fastconverge":
        st = meta.fc_stats
        if not st:
            raise ValueError(
                "fastconverge scramble has no persisted tier stats "
                "(created before append support) — rebuild the scramble"
            )
        mu, sd = float(st["mu"]), float(st["sd"])
        is_outlier = (
            F.abs(F.col(st["outlier_column"]) - F.lit(mu)) > F.lit(3.09 * sd)
            if sd > 0
            else F.lit(False)
        )
        gc = st.get("group_column")
        if gc is not None:
            lgs = st.get("large_groups") or []
            nonnull = [v for v in lgs if v is not None]
            in_large = F.col(gc).isin(nonnull) if nonnull else F.lit(False)
            if any(v is None for v in lgs):
                in_large = in_large | F.col(gc).isNull()
            # NULL-safe: isin() is NULL (not False) for a NULL key, and
            # ~NULL would drop NULL-group rows to tier 2 where create's
            # null-safe join put them in tier 1
            in_small = ~F.coalesce(in_large, F.lit(False))
        else:
            in_small = F.lit(False)
        tier = F.when(is_outlier, 0).when(in_small, 1).otherwise(2)
        unit = _unit_expr(st.get("columns") or new_rows.columns, meta.seed)
        out = new_rows.withColumn(TIER_COL, tier.cast("int"))
        block = (
            F.when(F.col(TIER_COL) == 0, _block_from_cdf(unit, meta.cdf[0], meta.nblocks))
            .when(F.col(TIER_COL) == 1, _block_from_cdf(unit, meta.cdf[1], meta.nblocks))
            .otherwise(_block_from_cdf(unit, meta.cdf[2], meta.nblocks))
            .cast("int")
        )
        return out.withColumn(BLOCK_COL, block)
    if meta.method not in ("uniform", "hash"):
        raise ValueError(f"append not supported for method {meta.method!r}")
    # virtual block universe m (> nblocks for partial-size scrambles)
    # is recoverable from the stored CDF: P(block 0) = 1/m
    m = int(round(1.0 / meta.cdf[0][0]))
    block = _block_expr(
        meta.method, new_rows.columns, meta.seed, m, hash_column=meta.hash_column
    )
    out = new_rows.withColumn(TIER_COL, F.lit(0)).withColumn(BLOCK_COL, block)
    if m > meta.nblocks:
        out = out.where(F.col(BLOCK_COL) < meta.nblocks)
    return out


def write_scramble(df: DataFrame, meta: ScrambleMeta, path: str) -> None:
    """Persist block-partitioned parquet + JSON meta sidecar.

    Partitioning by block gives block-prefix queries file-level
    partition pruning — a 1%-coverage query reads 1% of the files
    (the reference got this from ``PARTITION BY (verdictdbblock)``,
    CreateScrambledTableNode.java:101-166).
    """
    df.repartition(meta.nblocks, F.col(BLOCK_COL)).write.mode("overwrite").partitionBy(
        BLOCK_COL
    ).parquet(path)
    with open(os.path.join(path, "_verdictdb_meta.json"), "w") as f:
        f.write(meta.to_json())
    invalidate_scramble_cache(path)


# (applicationId, abspath) -> (DataFrame, meta).  A loaded scramble is a
# METADATA handle (parquet file index + schema + sidecar json), not data
# — but building it costs a driver-side directory listing and footer
# read per call, which every front-door query pays once or twice.  The
# cache is per Spark application: an insert drops the handles of every
# other application (a stopped session's handles are dead weight in a
# long-lived driver); writers below invalidate explicitly (a cached
# DataFrame's file index would not see appended files).
_LOAD_CACHE: dict = {}


def _cache_put(cache: dict, key: tuple, value):
    """Insert into a cache keyed by (applicationId, ...), dropping the
    keys of every other Spark application first."""
    for k in [k for k in cache if k[0] != key[0]]:
        del cache[k]
    cache[key] = value
    return value


def invalidate_scramble_cache(path: str | None = None) -> None:
    """Drop cached load_scramble handles (all, or one artifact path) —
    called by every code path that mutates a scramble directory."""
    if path is None:
        _LOAD_CACHE.clear()
        return
    ap = os.path.abspath(path)
    for k in [k for k in _LOAD_CACHE if k[1] == ap]:
        del _LOAD_CACHE[k]


def load_scramble(spark: SparkSession, path: str) -> tuple[DataFrame, ScrambleMeta]:
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    hit = _LOAD_CACHE.get(key)
    if hit is not None:
        return hit
    with open(os.path.join(path, "_verdictdb_meta.json")) as f:
        meta = ScrambleMeta.from_json(f.read())
    return _cache_put(_LOAD_CACHE, key, (spark.read.parquet(path), meta))
