"""Deterministic hashing primitives — the statistical foundation.

The reference bases universe sampling on a uniform-on-[0,1) hash
(``sqlsyntax/SparkSyntax.java:156-162``:
``conv(substr(md5(cast(col as string)),1,8),16,10) % 100000 / 100000``
with precision 1e-5, ``SqlSyntax.java:82``).  We keep the same
*contract* — a deterministic, uniform hash that is identical across
runs and across both sides of a join — but use full-width 64-bit
hashes (``xxhash64`` JVM-side for speed, ``sha2`` when the per-row
content-integrity invariant matters) instead of the md5-prefix /
mod-100000 construction, which only has 1e-5 resolution.

Everything here is a Column expression evaluated JVM-side inside
whole-stage codegen — no Python in the hot path.  The numpy helpers
at the bottom derive families of hash functions from one 64-bit hash
(multiply-shift universal hashing) so vectorized sketch UDFs never
hash strings in Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^64 as float, for normalizing uint64 hashes onto [0, 1).
_TWO64 = float(2**64)

# Odd 64-bit multipliers for multiply-shift hash families, generated
# once from a fixed seed so every run / executor agrees.
_MULT_RNG = np.random.default_rng(0x5EED_CAFE)


def _odd_multipliers(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63, size=n, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    return a


def sha256_col(col: str | Column) -> Column:
    """Hex sha256 of a column — the per-row content-integrity invariant.

    Mirrors the reference's content-addressed sampling contract
    (BASELINE.json input_hint: "per-row invariant vs the reference:
    content sha256 equality").
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("string"), 256)


def hash64_col(*cols: str | Column) -> Column:
    """64-bit deterministic hash of one or more columns (JVM xxhash64)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(*cs)


def unit_hash_col(*cols: str | Column) -> Column:
    """Deterministic uniform hash on [0, 1).

    The rebuild of ``SparkSyntax.hashFunction`` (md5 mod 100000 /
    100000) with full 64-bit resolution: xxhash64 → unsigned → /2^64.
    Used for universe (hash) sampling: a prefix predicate
    ``unit_hash < p`` is a p-fraction universe sample, identical on
    both sides of a join keyed by the same column.
    """
    h = hash64_col(*cols)
    # Map signed int64 → [0,1): shift by 2^63 then scale.
    return (h.cast("double") / F.lit(_TWO64)) + F.lit(0.5)


def block_col(nblocks: int, *cols: str | Column) -> Column:
    """Deterministic block id in [0, nblocks) — the scramble partition
    column (reference: ``verdictdbblock``, ``ScramblingNode.java:164-166``),
    derived from a hash instead of ``rand()`` so runs are reproducible.
    """
    return F.pmod(hash64_col(*cols), F.lit(nblocks)).cast("int")


# ---------------------------------------------------------------------------
# numpy-side hash families (derive k hashes from one 64-bit base hash)
# ---------------------------------------------------------------------------

def mod_index_family(hashes: np.ndarray, n: int, modulo: int, seed: int) -> np.ndarray:
    """(n, len(h)) int64 indices on [0, modulo) via multiply-shift —
    the ONE definition of the index derivation shared by the CMS and
    Bloom sketches (drift between them would silently change persisted
    state compatibility)."""
    a = _odd_multipliers(n, seed)
    h = hashes.astype(np.uint64, copy=False)
    out = np.empty((n, h.shape[0]), dtype=np.int64)
    with np.errstate(over="ignore"):
        for i in range(n):
            out[i] = ((h * a[i]) >> np.uint64(13)).astype(np.int64) % modulo
    return out


def clz64(w: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros on uint64 (no per-row Python)."""
    w = w.astype(np.uint64, copy=False)
    n = np.zeros(w.shape, dtype=np.int64)
    x = w.copy()
    for s in (32, 16, 8, 4, 2, 1):
        su = np.uint64(s)
        big = (x >> su) != 0
        n = np.where(big, n + s, n)
        x = np.where(big, x >> su, x)
    return np.where(w == 0, 64, 63 - n)


def null_safe_group_key(*cols: str | Column) -> Column:
    """Deterministic string key over group columns where NULL is a real
    key value (plain equi-joins drop NULL keys; groupBy keeps them).
    Used wherever grouped results from two plans must be joined back
    together (stratified sampling, sketch-pair set algebra)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.concat_ws(
        "\x1f", *[F.coalesce(c.cast("string"), F.lit("\x00null")) for c in cs]
    )
