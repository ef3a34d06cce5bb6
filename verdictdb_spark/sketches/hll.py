"""HyperLogLog (++-style) — mergeable approximate-distinct-count state.

Rebuilds the reference's count-distinct path: VerdictDB answers
``COUNT(DISTINCT c)`` either by hash-universe sampling + 1/p scaling
(``coordinator/SelectQueryCoordinator.java:189-238``) or by dialect
``approx_count_distinct`` passthrough
(``sqlsyntax/SparkSyntax.getApproximateCountDistinct:132-134``).
Here the sketch itself is the product: a dense 2^p register array,
built fully vectorized from pre-computed 64-bit hashes (hashing is
JVM-side ``xxhash64``; this module never touches strings).

Estimator: standard HLL (alpha_m * m^2 / sum(2^-M)) with
linear-counting small-range correction — the HLL++ empirical-bias
refinement without the sparse representation (dense arrays merge
trivially and 2^12 bytes/group is cheap).

Error guarantee: relative standard error ~ 1.04 / sqrt(2^p)
(p=12 -> ~1.625%), asserted in tests with a safety multiplier.

Merge = elementwise max — bit-exact associative + commutative.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..hashing import clz64
from .state import check_header, pack_header


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


@dataclass(frozen=True)
class HllSketch:
    """Factory for HLL states with precision ``p`` (m = 2^p registers)."""

    p: int = 12

    @property
    def m(self) -> int:
        return 1 << self.p

    # flat-accumulator contract for the group-vectorized build path
    @property
    def state_size(self) -> int:
        return self.m

    @property
    def state_dtype(self):
        return np.uint8

    # -- state lifecycle ----------------------------------------------------
    def empty(self) -> np.ndarray:
        return np.zeros(self.m, dtype=np.uint8)

    def build(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized register update from a batch of 64-bit hashes.

        Top p bits -> register index; leading-zero count of the
        remaining (64-p) bits + 1 -> rank.  ``np.maximum.at`` does the
        scatter-max; no Python loop over rows.
        """
        state = self.empty()
        self.update(state, hashes)
        return state

    def update(self, state: np.ndarray, hashes: np.ndarray) -> None:
        if hashes.size == 0:
            return
        h = hashes.astype(np.uint64, copy=False)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h << np.uint64(self.p)  # remaining bits, left-aligned
        rho = np.minimum(clz64(w) + 1, 64 - self.p + 1).astype(np.uint8)
        np.maximum.at(state, idx, rho)

    def update_grouped(self, flat: np.ndarray, codes: np.ndarray, hashes: np.ndarray) -> None:
        """Scatter a batch directly into a flat (n_groups*m) accumulator.

        Unlike build_grouped + a matrix merge, this allocates NOTHING
        per batch proportional to group count — per-batch memory
        traffic is O(rows), which keeps 32 concurrent workers out of
        DRAM-bandwidth saturation.
        """
        h = hashes.astype(np.uint64, copy=False)
        reg = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h << np.uint64(self.p)
        rho = np.minimum(clz64(w) + 1, 64 - self.p + 1).astype(np.uint8)
        np.maximum.at(flat, codes.astype(np.int64) * self.m + reg, rho)

    def build_grouped(self, hashes: np.ndarray, codes: np.ndarray, n_groups: int) -> np.ndarray:
        """Build states for MANY groups in ONE scatter-max.

        ``codes`` assigns each hash to a group in [0, n_groups).  The
        flat (n_groups x m) register matrix is updated with a single
        ``np.maximum.at`` — per-batch cost is independent of group
        count, which is what makes high-cardinality group-bys (repo x
        lang at 10^12 files) Python-overhead-free.
        """
        h = hashes.astype(np.uint64, copy=False)
        reg = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h << np.uint64(self.p)
        rho = np.minimum(clz64(w) + 1, 64 - self.p + 1).astype(np.uint8)
        flat = np.zeros(n_groups * self.m, dtype=np.uint8)
        np.maximum.at(flat, codes.astype(np.int64) * self.m + reg, rho)
        return flat.reshape(n_groups, self.m)

    def merge(self, s1: np.ndarray, s2: np.ndarray) -> np.ndarray:
        return np.maximum(s1, s2)

    def merge_many(self, states: list) -> np.ndarray:
        """Single vectorized reduce over a whole partial set."""
        return np.maximum.reduce(states)

    # -- serialization ------------------------------------------------------
    # mode byte after p: 0 = dense registers, 1 = sparse (u16 idx + u8 rho)
    # pairs.  Sparse cuts the merge-shuffle volume ~m/(3*nonzero)x for
    # small groups — the common case under high-cardinality group-bys.
    def to_bytes(self, state: np.ndarray) -> bytes:
        hdr = pack_header("hll") + np.uint8(self.p).tobytes()
        nz = np.nonzero(state)[0]
        if nz.size * 3 < self.m and self.p <= 16:  # u16 index limit
            return (
                hdr
                + b"\x01"
                + nz.astype(np.uint16).tobytes()
                + b"\x00"  # separator-free: count derivable from length
                + state[nz].tobytes()
            )
        return hdr + b"\x00" + state.tobytes()

    def from_bytes(self, data: bytes) -> np.ndarray:
        body = check_header("hll", data)
        p = int(body[0])
        if p != self.p:
            raise ValueError(f"precision mismatch: state p={p}, sketch p={self.p}")
        mode, payload = body[1], body[2:]
        if mode == 0:
            return np.frombuffer(payload, dtype=np.uint8).copy()
        n = (len(payload) - 1) // 3
        idx = np.frombuffer(payload[: 2 * n], dtype=np.uint16).astype(np.int64)
        vals = np.frombuffer(payload[2 * n + 1 :], dtype=np.uint8)
        state = np.zeros(self.m, dtype=np.uint8)
        state[idx] = vals
        return state

    # -- estimation ---------------------------------------------------------
    def estimate(self, state: np.ndarray) -> float:
        m = float(self.m)
        regs = state.astype(np.float64)
        raw = _alpha(self.m) * m * m / np.sum(np.exp2(-regs))
        zeros = float(np.count_nonzero(state == 0))
        if raw <= 2.5 * m and zeros > 0:
            return m * np.log(m / zeros)  # linear counting
        return raw

    def estimate_many(self, states: np.ndarray) -> np.ndarray:
        """Vectorized estimate over a (n_groups, m) register matrix."""
        m = float(self.m)
        raw = _alpha(self.m) * m * m / np.sum(np.exp2(-states.astype(np.float64)), axis=1)
        zeros = np.count_nonzero(states == 0, axis=1).astype(np.float64)
        lc = np.where(zeros > 0, m * np.log(np.maximum(m / np.maximum(zeros, 1e-12), 1.0)), raw)
        return np.where((raw <= 2.5 * m) & (zeros > 0), lc, raw)

    def error_bound(self) -> float:
        """Relative standard error: 1.04/sqrt(m)."""
        return 1.04 / np.sqrt(self.m)
