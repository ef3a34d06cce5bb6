"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [workload ...]

Runs every workload (or the ones named) at tiny size (``--smoke``:
sf 0.001, a 2k-row corpus, two cycles of ops), untraced and traced,
and checks that:

* the run exits 0 and its last line has exactly ``correct``,
  ``attempted``, ``failed`` and ``metrics``, with no failed op;
* the metrics are exactly BENCHMARK.json's end-to-end (untraced) or
  per-layer (traced) metrics, each a finite number with its unit;
* the report line names every metric of the workload with its unit,
  and the run facts;
* every op kind of the workload ran and was judged against DuckDB;
* traced, the layers the workload exercises read non-zero, and at
  most 10% of op time falls outside the spans that feed a layer metric.

It also feeds the answer checks wrong answers (missing, extra or
repeated groups, NaN or missing estimates, gross errors, an inexact
full-coverage answer) to show they fail, and checks that the benchmark
fails, without printing a result, in a directory that holds only
BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

COMMON = [
    "setup_s", "op_s_geomean", "op_s_p50", "ops_per_s", "driver_peak_rss_mb", "failed_share",
]
REPORTED = {
    "interactive": COMMON + [
        "answer_s_p50", "first_answer_s_p50", "rel_err_p50", "ci_coverage", "append_rows_per_s",
    ],
    "full_scan": COMMON + ["answer_s_p50"],
    "append_mix": COMMON + ["answer_s_p50", "rel_err_p50", "append_rows_per_s"],
    "sketch_build": COMMON + [
        "sketch_rows_per_s", "dedup_rows_per_s", "ndv_err_max", "rank_err_max",
    ],
}
FACTS = ["nproc", "seed", "spark", "pandas", "numpy", "ops_by_kind"]
# per-layer metrics a traced run of the workload must measure (non-zero)
LAYERS = {
    "interactive": [
        "sqlparse.parse_s", "api.self_s", "scramble.append_s", "scramble.files_per_block",
        "progressive.fold_s", "progressive.scan_fraction", "progressive.spark_engine_share",
        "join.s", "spark.jobs",
    ],
    "full_scan": ["progressive.spark_engine_share", "join.s", "spark.jobs"],
    "append_mix": ["scramble.append_s", "scramble.files_per_block", "progressive.fold_s"],
    "sketch_build": [
        "approx_agg.build_s", "approx_agg.merge_s", "approx_agg.finalize_s", "dedup.signature_s",
        "dedup.candidates_s", "dedup.cc_s", "dedup.keep_s", "spark.python_worker_s",
    ],
}


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: {what}")


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
        "--seconds", "600", "--trace", str(trace), "--smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_run(workload: str, trace: int, contract: dict) -> None:
    proc = run(ROOT, workload, trace)
    tag = f"{workload} trace={trace}"
    check(proc.returncode == 0, f"{tag} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    report, line = json.loads(lines[-2]), json.loads(lines[-1])
    check(set(line) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys {set(line)}")
    check(line["attempted"] >= 1 and line["failed"] == 0 and line["correct"] is True,
          f"{tag}: {line['failed']} of {line['attempted']} ops failed:\n{proc.stderr[-3000:]}")
    want = contract["per_layer" if trace else "end_to_end"]
    check(set(line["metrics"]) == {m["name"] for m in want}, f"{tag}: metric names differ")
    for m in want:
        got = line["metrics"][m["name"]]
        check(isinstance(got["value"], (int, float)) and math.isfinite(got["value"]),
              f"{tag}: {m['name']} = {got['value']!r}")
        check(got["unit"] == m["unit"], f"{tag}: {m['name']} unit {got['unit']}")
    if trace:
        loose = line["metrics"]["trace.unattributed_share"]["value"]
        check(loose <= 0.10, f"{tag}: {loose:.1%} of op time is in no layer")
        for name in LAYERS[workload]:
            check(line["metrics"][name]["value"] > 0, f"{tag}: {name} reads 0")
    for name in REPORTED[workload]:
        got = report["metrics"].get(name)
        check(got is not None and got.get("unit"), f"{tag}: report lacks {name}")
    for fact in FACTS:
        check(fact in report["facts"], f"{tag}: facts lack {fact}")
    kinds = set(WORKLOADS[workload].kinds)
    check(set(report["facts"]["ops_by_kind"]) == kinds,
          f"{tag}: ran {report['facts']['ops_by_kind']}, want every kind of {sorted(kinds)}")
    print(f"smoke: {tag} ok ({line['attempted']} ops)")


def check_judge() -> None:
    """The answer checks fail on wrong answers, not only on errors."""
    import pandas as pd

    from perfbench import judge

    ref = pd.DataFrame({"g": ["A", "N", "R"], "s": [100.0, 200.0, 300.0]})

    def verdict(rows, full=False):
        return judge.approximate(rows, ref, ["g"], full=full)["ok"]

    near = [{"g": "A", "s": 101.0}, {"g": "N", "s": 198.0}, {"g": "R", "s": 303.0}]
    check(verdict(near), "judge: a close estimate fails")
    wrong = {
        "no rows": [],
        "a missing group": near[:2],
        "an extra group": near + [{"g": "X", "s": 1.0}],
        "a repeated group": near + [near[0]],
        "a NaN estimate": [near[0], near[1], {"g": "R", "s": float("nan")}],
        "a missing estimate": [near[0], near[1], {"g": "R"}],
        "an estimate 10x off": [near[0], near[1], {"g": "R", "s": 3000.0}],
        "an estimate outside 10 half-widths": [
            near[0], near[1], {"g": "R", "s": 330.0, "s_err": 2.0},
        ],
    }
    for what, rows in wrong.items():
        check(not verdict(rows), f"judge: an answer with {what} passes")
    check(not verdict(near, full=True), "judge: an inexact full-coverage answer passes")
    # 8 of 80 rows seen: the cap widens to ten standard errors (5x)
    seen = ref.assign(_n=80)
    twice = [{"g": k, "s": 2 * v} for k, v in zip(ref["g"], ref["s"])]
    check(judge.approximate(twice, seen, ["g"], coverage=0.1)["ok"],
          "judge: an estimate within ten standard errors fails")
    tenfold = [{"g": k, "s": 10 * v} for k, v in zip(ref["g"], ref["s"])]
    check(not judge.approximate(tenfold, seen, ["g"], coverage=0.1)["ok"],
          "judge: an estimate 10x off a 10% sample passes")
    check(verdict([{"g": k, "s": v} for k, v in zip(ref["g"], ref["s"])], full=True),
          "judge: an exact full-coverage answer fails")
    print("smoke: the answer checks reject wrong answers")


def check_without_package() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_tmp")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"))
        proc = run(d, "interactive", 0)
        check(proc.returncode != 0 and not proc.stdout.strip(),
              "a checkout without verdictdb_spark must fail without a result")
    print("smoke: run without the package fails as it should")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    check_judge()
    check_without_package()
    for workload in sys.argv[1:] or list(WORKLOADS):
        for trace in (0, 1):
            check_run(workload, trace, contract)


if __name__ == "__main__":
    main()
