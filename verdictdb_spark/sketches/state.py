"""Mergeable sketch-state protocol.

Every sketch in this library is a *mergeable, associative* state —
the property the reference depends on when it stacks pairwise
combiners in arbitrary tree shapes
(``ola/AsyncQueryExecutionPlan.java:314-326``,
``ola/InMemoryAggregate.combineTables:170-237``).  Each sketch module
implements this protocol; the generic drivers in
``operators/approx_agg.py`` handle partitioned build + logarithmic
tree merge for any of them.

Protocol (duck-typed, see HllSketch for the canonical example):

    cls(params...)                 -> sketch factory (stateless, picklable)
    .empty()                       -> state
    .build(values: np.ndarray)     -> state         # one vectorized batch
    .merge(s1, s2)                 -> state         # associative, commutative
    .to_bytes(state) / .from_bytes(b)               # BinaryType serialization
    .estimate(state)               -> python scalar / small dict
    .error_bound()                 -> documented error guarantee

States must be order-independent under merge (bit-exact for HLL /
CMS / Bloom; estimate-equivalent within bound for KLL / t-digest) —
verified by the merge-associativity tests.
"""

from __future__ import annotations

import struct
from typing import Any

MAGIC = {
    "hll": b"HL",
    "cms": b"CM",
    "kll": b"KL",
    "tdg": b"TD",
    "blm": b"BL",
    "mh": b"MH",
}


def pack_header(kind: str, version: int = 1) -> bytes:
    return MAGIC[kind] + struct.pack("<H", version)


def check_header(kind: str, data: bytes) -> bytes:
    if data[:2] != MAGIC[kind]:
        raise ValueError(f"not a {kind} sketch state (magic={data[:2]!r})")
    return data[4:]


def reduce_merge(sketch: Any, states: list) -> Any:
    """Left-fold merge; associativity makes the fold shape irrelevant."""
    if not states:
        return sketch.empty()
    acc = states[0]
    for s in states[1:]:
        acc = sketch.merge(acc, s)
    return acc
