"""verdictdb_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout.  It generates seeded inputs, starts
one local Spark session with one core per CPU, sets up the workload,
warms every op kind, then runs a closed loop — one client, no think
time — in whole cycles of the workload's op kinds until the ops'
summed wall time reaches ``--seconds``.  Every answer is checked
against an exact DuckDB answer computed in a child process before the
session starts.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``).  The line before it is the full report: every metric
of the workload with its unit, and the run's facts.  ``--smoke`` runs
tiny inputs and a few ops (see ``perfbench/smoke.py``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from itertools import islice

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Inputs per workload.  The TPC-H-like tables are at scale factor
# ``sf`` (sf 0.1 = 600k lineitem rows); ``engine_threshold`` scales the
# front door's driver/Spark estimator switch with the data, so the
# high-cardinality GROUP BYs cross it as they do at sf 0.1 with the
# default of 200k partial rows.
# ``blocks`` is the interactive lineitem scramble's block count.
# ``plan`` is how many ops of the seeded sequence get exact answers up
# front: more than a run can use.
SIZES = {
    "interactive": {"sf": 0.1, "blocks": 40, "plan": 44},
    "full_scan": {"sf": 0.02, "plan": 30},
    "append_mix": {"sf": 0.02, "slices": 16},
    "sketch_build": {
        "corpus_rows": 20_000, "n_repos": 200, "max_words": 120, "dedup_rows": 1_000, "plan": 40,
    },
}
SMOKE = {
    "interactive": {"sf": 0.001, "blocks": 20, "plan": 22},
    "full_scan": {"sf": 0.001, "plan": 10},
    "append_mix": {"sf": 0.001, "slices": 3},
    "sketch_build": {
        "corpus_rows": 2_000, "n_repos": 40, "max_words": 60, "dedup_rows": 400, "plan": 16,
    },
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    """The q-quantile when at least ten samples lie beyond it."""
    if len(xs) * (1 - q) < 10:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.cores = len(os.sched_getaffinity(0))  # what nproc prints
        size = dict((SMOKE if args.smoke else SIZES)[args.workload])
        if "sf" in size:
            from perfbench.inputs import table_sizes

            size["rows"] = table_sizes(size["sf"])
            size["engine_threshold"] = max(int(200_000 * size["sf"] / 0.1), 100)
        self.size = size
        self.facts: dict = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "smoke": args.smoke, "nproc": self.cores,
        }

    # ------------------------------------------------------------ hygiene
    def _environment(self) -> None:
        """Keep every file the run writes under its run directory."""
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        # the package's default 8g driver heap is far more than these
        # inputs need, on a host whose memory other processes share
        os.environ["SPARK_DRIVER_MEM"] = "2g"
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        submit = [
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "--conf spark.ui.showConsoleProgress=false",
        ]
        if self.args.trace:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir)
            submit += [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{self.event_dir}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
        os.chdir(self.run_dir)

    def _exact(self, step: str) -> None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "exact.py"), step, self.run_dir], check=True
        )

    # --------------------------------------------------------------- main
    def execute(self) -> tuple[dict, dict]:
        from perfbench.workloads import WORKLOADS

        end_to_end, layer_units = _contract()
        self._environment()
        wl_cls = WORKLOADS[self.args.workload]
        wl = wl_cls(None, self.run_dir, self.args.seed, self.size)
        # inputs, the op plan and its exact answers — all before Spark
        with open(os.path.join(self.run_dir, "inputs.json"), "w") as f:
            json.dump({"seed": self.args.seed, **wl.inputs()}, f)
        warm = wl.warm_specs()
        plan = list(islice(wl.plan(), self.size.get("plan")))
        with open(os.path.join(self.run_dir, "specs.json"), "w") as f:
            json.dump(plan, f)
        t0 = time.perf_counter()
        self._exact("inputs")
        self._exact("refs")
        self.facts["prepare_s"] = time.perf_counter() - t0
        with open(os.path.join(self.run_dir, "inputs_out.json")) as f:
            self.facts.update(json.load(f))
        self.facts.update({k: v for k, v in self.size.items() if k not in ("rows", "plan")})

        t0 = time.perf_counter()
        spark = self._session()
        try:
            session_s = time.perf_counter() - t0
            wl.spark = spark
            t0 = time.perf_counter()
            wl.setup(os.path.join(self.run_dir, "scrambles"))
            build_s = time.perf_counter() - t0
            warm_s: dict[str, float] = {}
            for spec in warm:
                t0 = time.perf_counter()
                wl.run(spec)
                warm_s[spec["kind"]] = warm_s.get(spec["kind"], 0.0) + time.perf_counter() - t0
            warmup_s = sum(warm_s.values())
            self.facts["warmup_s_by_kind"] = warm_s
            setup = {
                "setup_s": session_s + build_s + warmup_s,
                "session_s": session_s, "build_s": build_s, "warmup_s": warmup_s,
            }
            ops = iter(plan)
            if self.args.trace:
                cycle = len(wl.kinds)
                half = len(plan) // 2 // cycle * cycle
                plain = self._loop(wl, ops, self.args.seconds / 2, "plain", half)
                traced, rec = self._traced(wl, ops)
            else:
                plain = self._loop(wl, ops, self.args.seconds, "plain")
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            if self.args.trace:
                extra = self._bookkeeping(wl, rec)
        finally:
            _stop(spark)
        self.facts["plan_exhausted"] = next(ops, None) is None
        self._facts(wl, plain + (traced if self.args.trace else []))
        report = self._report(wl, plain, setup, rss_mb)
        records = plain
        if self.args.trace:
            from perfbench.tracing import layer_metrics, read_event_log

            layers = layer_metrics(rec, len(traced), read_event_log(self.event_dir))
            layers.update(extra)
            layers["scramble.create_s"] = setup["build_s"] if wl.name != "sketch_build" else 0.0
            base = report["op_s_geomean"]["value"]
            tr = _geomean([r["wall"] for r in traced if r["kind"] in wl.answer_kinds])
            layers["trace.overhead"] = tr / base - 1 if base else 0.0
            records = plain + traced
            metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in sorted(layers.items())}
            report.update(metrics)
        else:
            metrics = {k: report[k] for k in end_to_end}
        failed = sum(not r["ok"] for r in records)
        line = {"correct": failed == 0, "attempted": len(records), "failed": failed, "metrics": metrics}
        return {"workload": wl.name, "facts": self.facts, "metrics": report}, line

    def _session(self):
        from verdictdb_spark import get_spark

        spark = get_spark(f"perfbench-{self.args.workload}", master=f"local[{self.cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        # start one Python worker per core, with numpy/pandas imported
        spark.range(1000).repartition(self.cores).mapInPandas(lambda it: it, "id long").count()
        return spark

    def _loop(self, wl, ops, seconds: float, group: str, max_ops=None, rec=None) -> list[dict]:
        """Closed loop over whole cycles of the workload's op kinds,
        until the ops' summed wall time reaches ``seconds`` (or
        ``max_ops`` ran).  Whole cycles keep the mix of op kinds the
        same in every run.  Each answer is judged (untimed) as it
        arrives."""
        import pandas as pd

        sc = wl.spark.sparkContext
        out, busy = [], 0.0
        cycle = len(wl.kinds)
        while (busy < seconds or len(out) % cycle) and len(out) != max_ops:
            spec = next(ops, None)
            if spec is None:
                break
            sc.setJobGroup(f"{group}-{spec['i']}", spec["kind"])
            if rec is not None:
                rec.op = spec["i"]
            t0 = time.perf_counter()
            try:
                if rec is None:
                    result = wl.run(spec)
                else:
                    with rec.span("op"):
                        result = wl.run(spec)
                error = None
            except Exception:
                result, error = None, traceback.format_exc()
            wall = time.perf_counter() - t0
            busy += wall
            sc.setJobGroup("bookkeeping", "untimed")
            if error is None:
                ref = pd.read_parquet(os.path.join(self.run_dir, "refs", f"{spec['i']}.parquet"))
                verdict = wl.judge(spec, result, ref)
            else:
                verdict = {"ok": False, "why": error.strip().splitlines()[-1]}
            if not verdict["ok"]:
                print(f"op {spec['i']} ({spec['kind']}) failed: {verdict['why']}", file=sys.stderr)
                if error:
                    print(error, file=sys.stderr)
            if spec["kind"] == "append" and result is not None:
                verdict["rows"] = result[0]["appended_rows"]
            out.append({"i": spec["i"], "kind": spec["kind"], "sql": spec.get("sql"),
                        "wall": wall, **verdict})
            if rec is not None:
                rec.settle()
                if spec["kind"] == "dedup":
                    self._candidate_precision(wl, rec)
        return out

    def _traced(self, wl, ops):
        from perfbench.tracing import Recorder

        rec = Recorder()
        rec.install(wl.spark)
        try:
            return self._loop(wl, ops, self.args.seconds, "traced", rec=rec), rec
        finally:
            rec.uninstall()

    def _candidate_precision(self, wl, rec) -> None:
        from verdictdb_spark import exact_jaccard

        if not rec.notes["candidate_pairs"]:
            return  # the op failed before its candidate stage
        pairs = rec.notes["candidate_pairs"].pop()
        j = exact_jaccard(wl.slice, pairs, "id", "content").collect()
        if j:
            rec.note("candidate_precision", sum(r["jaccard"] >= 0.8 for r in j) / len(j))

    def _bookkeeping(self, wl, rec) -> dict:
        from perfbench.tracing import sketch_kernels

        wl.spark.sparkContext.setJobGroup("bookkeeping", "untimed")
        extra = sketch_kernels(self.args.seed)
        store = wl.storage() if getattr(wl, "path", None) else {}
        extra["scramble.bytes_per_row"] = store.get("bytes_per_row", 0.0)
        extra["scramble.files_per_block"] = store.get("files_per_block", 0.0)
        prec = rec.notes["candidate_precision"]
        extra["dedup.candidate_precision"] = _median(prec)
        return extra

    def _facts(self, wl, records) -> None:
        import numpy
        import pandas
        import pyspark

        self.facts.update(
            spark=pyspark.__version__, pandas=pandas.__version__, numpy=numpy.__version__,
            python=sys.version.split()[0],
        )
        walls: dict[str, list] = {}
        for r in records:
            walls.setdefault(r["kind"], []).append(r["wall"])
        self.facts["ops_by_kind"] = {k: len(v) for k, v in walls.items()}
        self.facts["op_s_by_kind"] = {k: _median(v) for k, v in walls.items()}
        texts = [r["sql"] for r in records if r["sql"]]
        if texts:
            self.facts["repeated_text_share"] = 1 - len(set(texts)) / len(texts)

    def _report(self, wl, records, setup: dict, rss_mb: float) -> dict:
        answers = [r["wall"] for r in records if r["kind"] in wl.answer_kinds]
        m = {
            "setup_s": (setup["setup_s"], "s"),
            "session_s": (setup["session_s"], "s"),
            "build_s": (setup["build_s"], "s"),
            "warmup_s": (setup["warmup_s"], "s"),
            "op_s_p50": (_median(answers), "s"),
            "op_s_geomean": (_geomean(answers), "s"),
            "ops_per_s": (len(records) / max(sum(r["wall"] for r in records), 1e-9), "1/s"),
            "driver_peak_rss_mb": (rss_mb, "MB"),
            "failed_share": (sum(not r["ok"] for r in records) / max(len(records), 1), "ratio"),
            "ops": (len(records), "count"),
        }

        def quantiles(name, xs, unit):
            """p50 always; p90 only with ten samples beyond it."""
            m[f"{name}_p50"] = (_median(xs), unit)
            p90 = _pct(xs, 0.9)
            if p90 is not None:
                m[f"{name}_p90"] = (p90, unit)

        def samples(key):
            return [x for r in records for x in r.get(key, [])]

        def rate(kinds, rows_of_op):
            ops = [r for r in records if r["kind"] in kinds]
            return sum(map(rows_of_op, ops)) / max(sum(r["wall"] for r in ops), 1e-9)

        if wl.name == "sketch_build":
            m["sketch_rows_per_s"] = (rate(("hll", "topk", "kll"), lambda r: self.size["corpus_rows"]), "rows/s")
            m["dedup_rows_per_s"] = (rate(("dedup",), lambda r: self.size["dedup_rows"]), "rows/s")
            m["ndv_err_max"] = (max(samples("ndv_err"), default=0.0), "ratio")
            m["rank_err_max"] = (max(samples("rank_err"), default=0.0), "ratio")
        else:
            quantiles("answer_s", [r["wall"] for r in records
                                   if r["kind"] in wl.answer_kinds and r["kind"] != "stream"], "s")
        if wl.name == "interactive":
            quantiles("first_answer_s", [r["wall"] for r in records if r["kind"] == "stream"], "s")
            cover = samples("cover")
            m["ci_coverage"] = (sum(cover) / len(cover) if cover else 0.0, "ratio")
        if wl.name in ("interactive", "append_mix"):
            quantiles("rel_err", samples("rel"), "ratio")
        if "append" in wl.kinds:
            m["append_rows_per_s"] = (rate(("append",), lambda r: r.get("rows", 0)), "rows/s")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _geomean(xs):
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _contract() -> tuple[list[str], dict[str, str]]:
    """End-to-end metric names and per-layer units from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["end_to_end"]], {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, a few ops")
    args = ap.parse_args(argv)
    # a terminated run still cleans up its run directory and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "verdictdb_spark", "__init__.py")):
        print("perfbench: no verdictdb_spark package beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(parent, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=parent)
    try:
        t0 = time.perf_counter()
        report, line = Run(args, run_dir).execute()
        report["facts"]["run_wall_s"] = time.perf_counter() - t0
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run is using it
    print(json.dumps(report))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
