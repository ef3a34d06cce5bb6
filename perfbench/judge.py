"""Checks of one op's answer against its exact DuckDB reference.

Every check returns a verdict dict: ``ok`` (False = a wrong exact
answer, or an estimate or sketch answer that is malformed or grossly
outside its bound; counted in ``failed_share``), ``why`` and, where
they apply, the per-value accuracy samples ``rel`` (relative errors), ``cover`` (whether each
``±_err`` interval held the exact value), ``ndv_err`` and ``rank_err``.

Comparison is order-insensitive, keyed on the group columns.  Exact
answers follow the ``queries.py`` oracle rules: counts, sums of
integer-valued columns and money in integer cents must match after
rounding to an integer; other values must agree to 4 decimals (or to a
relative 1e-9, so a value straddling a rounding boundary is not a
mismatch).
"""

from __future__ import annotations

import math

import numpy as np


def rows_of(result) -> list[dict]:
    if hasattr(result, "to_dict"):  # a pandas frame from stream()
        return result.to_dict("records")
    return [r.asDict() for r in result]


def ok(**extra) -> dict:
    return {"ok": True, "why": None, **extra}


def bad(why: str, **extra) -> dict:
    return {"ok": False, "why": why, **extra}


def _key(row: dict, keys: list[str]) -> tuple:
    out = []
    for k in keys:
        v = row[k]
        if isinstance(v, (float, np.floating)) and float(v).is_integer():
            v = int(v)
        elif hasattr(v, "item"):
            v = v.item()
        out.append(v)
    return tuple(out)


def _by_key(rows: list[dict], keys: list[str]) -> dict:
    return {_key(r, keys): r for r in rows}


def _num(v) -> float | None:
    if v is None:
        return None
    v = float(v)
    return None if math.isnan(v) else v


def exact(rows: list[dict], ref, keys: list[str], ints: list[str]) -> dict:
    want = _by_key(ref.to_dict("records"), keys)
    got = _by_key(rows, keys)
    if set(got) != set(want):
        return bad(f"groups differ: {len(got)} returned, {len(want)} exact")
    for k, w in want.items():
        g = got[k]
        for col in ref.columns:
            if col in keys:
                continue
            a, b = _num(g.get(col)), _num(w[col])
            if a is None or b is None:
                if a is not b:
                    return bad(f"{col} at {k}: {a} vs exact {b}")
                continue
            if col in ints:
                same = round(a) == round(b)
            else:
                same = round(a, 4) == round(b, 4) or abs(a - b) <= 1e-9 * max(1.0, abs(b))
            if not same:
                return bad(f"{col} at {k}: {a} vs exact {b}")
    return ok()


# An estimate without a usable ``_err`` fails when it is off by more
# than ``REL_CAP`` of the exact value, or, when the exact answer gives
# the group's row count ``_n`` and the answer's coverage ``c`` is known,
# by more than ten standard errors of a sum over a uniform sample of
# ``c * _n`` rows whose values have a coefficient of variation up to 1:
# 10 * sqrt(2 / (c * _n)) of the exact value, where that is wider.
REL_CAP = 0.5
# An estimate with an ``_err`` fails when it is off by more than this
# many half-widths.
ERR_CAP = 10.0


def approximate(
    rows: list[dict], ref, keys: list[str], full: bool = False, coverage: float | None = None
) -> dict:
    """An early-stop answer: the exact answer's groups, each estimate
    present and finite, none grossly off (see ``REL_CAP``/``ERR_CAP``).
    An answer that covered every block (``full``) must be exact.
    Samples: the relative error per (group, aggregate) and CI coverage
    of every ``_err`` column."""
    want = _by_key(ref.to_dict("records"), keys)
    got = _by_key(rows, keys)
    if len(got) != len(rows) or set(got) != set(want):
        return bad(f"groups differ: {len(rows)} returned, {len(want)} exact")
    values = [c for c in ref.columns if c not in keys and c != "_n"]
    rel, cover, worst = [], [], None
    for k, w in want.items():
        g = got[k]
        cap = REL_CAP
        if coverage and "_n" in w:
            cap = max(cap, 10 * math.sqrt(2 / max(coverage * w["_n"], 1)))
        for col in values:
            b = _num(w[col])
            if b is None:
                continue
            a = g.get(col)
            a = None if a is None else float(a)
            if a is None or not math.isfinite(a):
                return bad(f"{col} at {k}: estimate {a}, exact {b}")
            r = abs(a - b) / abs(b) if b else float(a != 0)
            rel.append(r)
            err = _num(g.get(f"{col}_err"))
            if err is not None and err > 0:
                cover.append(abs(a - b) <= err + 1e-9 * abs(b))
                gross = abs(a - b) > ERR_CAP * err + 1e-9 * abs(b)
            else:
                gross = r > cap
            if gross and worst is None:
                worst = f"{col} at {k}: {a} vs exact {b} (_err {err}, cap {cap:.2f})"
    if worst is not None:
        return bad(worst, rel=rel, cover=cover)
    if full:
        verdict = exact(rows, ref[[*keys, *values]], keys, [])
        if not verdict["ok"]:
            return bad(f"full coverage, not exact: {verdict['why']}", rel=rel, cover=cover)
    return ok(rel=rel, cover=cover)


def ndv(rows: list[dict], ref, p: int = 12) -> dict:
    """Grouped HLL: every group present with a finite estimate.  The
    accuracy itself is reported as ``ndv_err``; only a gross miss —
    off by more than ten standard errors (1.04/sqrt(2^p)) and by more
    than 2 — fails, so a small group's one-off error shows in the
    metric, not as a failure."""
    keys = ["repo", "lang"]
    got = _by_key(rows, keys)
    want = _by_key(ref.to_dict("records"), keys)
    if set(got) != set(want):
        return bad(f"groups differ: {len(got)} returned, {len(want)} exact")
    sigma = 1.04 / math.sqrt(1 << p)
    errs = []
    for k, w in want.items():
        est, n = _num(got[k]["approx_ndv"]), w["ndv"]
        if est is None:
            return bad(f"no estimate for {k}")
        if abs(est - n) > max(10 * sigma * n, 2):
            return bad(f"NDV of {k}: {est:.1f} vs exact {n}")
        errs.append(abs(est - n) / n)
    return ok(ndv_err=errs)


def top_k(rows: list[dict], ref, k: int, eps: float) -> dict:
    """CMS top-k: k rows, each a true top-k member (up to ties), each
    count never under the truth and over it by at most eps * N."""
    exact_counts = dict(zip(ref["value"], ref["cnt"]))
    n = int(ref["cnt"].sum())
    kth = sorted(exact_counts.values(), reverse=True)[min(k, len(exact_counts)) - 1]
    if len(rows) != min(k, len(exact_counts)):
        return bad(f"{len(rows)} rows for top-{k}")
    for r in rows:
        true = exact_counts.get(r["value"], 0)
        if true < kth:
            return bad(f"{r['value']} (count {true}) is not a top-{k} value")
        if not true <= r["est_count"] <= true + eps * n:
            return bad(f"{r['value']}: estimate {r['est_count']} vs exact {true}")
    return ok()


def quantiles(rows: list[dict], ref, probs: list[float]) -> dict:
    """KLL: rank error of each returned quantile against the exact
    per-group distribution; over 5% (the published bound at k=256 is
    about 1.3%) fails."""
    errs = []
    lens = {g: np.sort(d["len"].to_numpy()) for g, d in ref.groupby("lang")}
    if {r["lang"] for r in rows} != set(lens):
        return bad("quantile groups differ")
    for r in rows:
        x = lens[r["lang"]]
        for p, v in zip(probs, r["quantiles"]):
            lo = np.searchsorted(x, v, "left") / len(x)
            hi = np.searchsorted(x, v, "right") / len(x)
            errs.append(0.0 if lo <= p <= hi else min(abs(p - lo), abs(p - hi)))
    worst = max(errs)
    if worst > 0.05:
        return bad(f"rank error {worst:.3f}", rank_err=errs)
    return ok(rank_err=errs)


def same_ids(rows: list[dict], ref) -> dict:
    """MinHash dedup keeps one row per cluster, the cluster's smallest
    id: so every kept row is the smallest id of its exact text, and no
    two kept rows share a text.  (Which near-duplicates it merges is
    measured by ``dedup.candidate_precision`` in a traced run.)"""
    rep = dict(zip(ref["id"], ref["rep"]))
    text = dict(zip(ref["id"], ref["h"]))
    kept = [r["id"] for r in rows]
    if any(rep.get(i) != i for i in kept):
        return bad("a kept row is not the smallest id of its text")
    if len({text[i] for i in kept}) != len(kept):
        return bad("two kept rows share a text")
    return ok()
