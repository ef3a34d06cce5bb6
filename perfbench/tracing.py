"""Spans around the library's layers, the Spark event-log reader and
the per-layer metrics of a traced run.

Spans are recorded from the benchmark's side only: ``Recorder.install``
replaces the module attribute each caller looks up with a timing
wrapper, and ``uninstall`` puts the originals back.  ``api.py`` binds
``parse_select``/``inline_ctes``/``load_scramble`` at import, so those
are patched on ``verdictdb_spark.api``; ``progressive_agg``,
``fold_progressive`` and the join drivers are imported inside the
calling function, so they are patched on their own modules.

The sketch and dedup stages are lazy DataFrames that normally run as
one Spark job chain.  In a traced run each stage's output is
materialized with ``localCheckpoint(eager=True)`` inside its span, so
its time is its own; this changes the plan, which is part of what
``trace.overhead`` reports.

A span is ``[name, start, end, parent index, op id]``.  Its self time
is its duration minus its children's; a layer is the span name up to
the first dot.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

OP = "op"
# the spans whose self time feeds a reported per-layer metric; op time
# outside them is ``trace.unattributed_share``.  (``*.plan`` spans, the
# operators' own plan-building code, feed none.)  A ``.end`` span is
# a generator's last, empty step and counts with its layer.
ATTRIBUTED = {
    "sqlparse.parse", "api.sql", "api.stream", "api.collect", "scramble.load",
    "scramble.append", "progressive.span", "progressive.span.end", "progressive.fold",
    "join.span", "join.span.end", "approx_agg.build", "approx_agg.merge",
    "approx_agg.finalize", "dedup.signature", "dedup.candidates", "dedup.cc", "dedup.keep",
}
# the answer's collect on the driver runs what the op left lazy; it
# counts with the op's last top-level span: a sketch's final scoring or
# interpolation, dedup's representative join, an append's statement,
# else the front door's answer (``api.collect``)
COLLECT_AS = {
    "approx_agg.plan": "approx_agg.finalize",
    "dedup.plan": "dedup.keep",
    "scramble.append": "scramble.append",
}


class Recorder:
    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.notes: dict[str, list] = defaultdict(list)
        self.deferred: list = []  # bookkeeping to run after the op
        self._saved: list[tuple] = []
        self._last_top: str | None = None  # last span closed directly under the op

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()
            if parent is not None and self.spans[parent][0] == OP:
                self._last_top = self.spans[idx][0]
            elif name == OP:
                self._last_top = None

    def note(self, key: str, value) -> None:
        self.notes[key].append(value)

    def settle(self) -> None:
        """Run the bookkeeping the last op deferred (outside its time)."""
        while self.deferred:
            self.deferred.pop()()

    def _innermost(self) -> str | None:
        return self.spans[self._stack[-1]][0] if self._stack else None

    # ------------------------------------------------------------ patching
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def timed(self, name: str, materialize: bool = False, after=None):
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    out = orig(*args, **kwargs)
                    if materialize:
                        out = out.localCheckpoint(eager=True)
                if after is not None:
                    after(out)
                return out

            return wrapper

        return make

    def timed_gen(self, name: str, on_start=None, on_item=None):
        """Wrap a generator factory: each ``next()`` is one span."""

        def make(orig):
            def wrapper(*args, **kwargs):
                if on_start is not None:
                    on_start(args, kwargs)
                inner = orig(*args, **kwargs)

                def gen():
                    n = 0
                    while True:
                        with self.span(name) as idx:
                            try:
                                item = next(inner)
                            except StopIteration:
                                self.spans[idx][0] = name + ".end"
                                return
                        if on_item is not None:
                            on_item(n, self.spans[idx])
                        n += 1
                        yield item

                return gen()

            return wrapper

        return make

    def _progressive_yield(self, n: int, span: list) -> None:
        self.note("progressive.yield", n)
        if n == 0:
            self.note("progressive.first_span", span[2] - span[1])

    def install(self, spark) -> None:
        import verdictdb_spark as vs

        from verdictdb_spark import api, sqlparse
        from verdictdb_spark.operators import approx_agg, dedup, distinct, frequency
        from verdictdb_spark.sampling import join, progressive

        p = self._patch
        for attr in ("parse_select", "inline_ctes"):
            p(api, attr, self.timed("sqlparse.parse"))
        p(sqlparse, "parse_percentile_select", self.timed("sqlparse.parse"))
        p(api, "load_scramble", self.timed("scramble.load"))

        def start_prog(args, kwargs):
            meta = args[1] if len(args) > 1 else kwargs["meta"]
            self.note("nblocks", meta.nblocks)

        p(progressive, "progressive_agg", self.timed_gen(
            "progressive.span", on_start=start_prog,
            on_item=self._progressive_yield,
        ))

        def folded(res):
            nb = self.notes["nblocks"][-1] if self.notes["nblocks"] else 0
            self.note("fold.scan_fraction", res.blocks_covered / nb if nb else None)
            self.note("fold.spark_engine", res.estimates_sdf is not None)
            self.notes["nblocks"].clear()

        p(progressive, "fold_progressive", self.timed("progressive.fold", after=folded))
        for attr in ("progressive_join_agg", "progressive_multi_join_agg"):
            p(join, attr, self.timed_gen(
                "join.span", on_item=lambda n, span: self.note("join.yield", n)
            ))

        p(approx_agg, "build_partials", self.timed(
            "approx_agg.build", materialize=True,
            after=lambda df: self.deferred.append(lambda: self.note("partial_states", df.count())),
        ))
        # top-k's one fused pass builds the CMS partials and the
        # Misra-Gries candidates together
        p(frequency, "_fused_partials", self.timed("approx_agg.build", materialize=True))
        for mod in (approx_agg, frequency):
            p(mod, "tree_merge", self.timed("approx_agg.merge", materialize=True))
        p(distinct, "finalize", self.timed("approx_agg.finalize", materialize=True))
        p(dedup, "minhash_signatures", self.timed("dedup.signature", materialize=True))
        p(dedup, "lsh_candidate_pairs", self.timed(
            "dedup.candidates", materialize=True,
            after=lambda df: self.note("candidate_pairs", df),
        ))
        p(dedup, "connected_components", self.timed("dedup.cc", materialize=True))
        for attr in ("approx_count_distinct_by", "approx_top_k", "approx_quantiles"):
            p(vs, attr, self.timed("approx_agg.plan"))
        p(vs, "dedup_minhash", self.timed("dedup.plan"))

        # front door: sql() / stream() spans, DDL named by statement
        ctx_cls = vs.VerdictContext

        def sql_make(orig):
            def sql(ctx, query, *args, **kwargs):
                name = "scramble.append" if re.match(r"\s*APPEND\b", query, re.I) else "api.sql"
                with self.span(name):
                    return orig(ctx, query, *args, **kwargs)

            return sql

        p(ctx_cls, "sql", sql_make)
        p(ctx_cls, "stream", self.timed_gen("api.stream"))

        # an exact fallback is a spark.sql call made inside an answer
        def spark_sql_make(orig):
            def spark_sql(*args, **kwargs):
                if self._innermost() == "api.sql":
                    self.note("fallback", self.op)
                return orig(*args, **kwargs)

            return spark_sql

        p(spark, "sql", spark_sql_make)

        # the answer's own collect, at the op's top level only
        def collect_make(orig):
            def collect(df):
                if self._innermost() != OP:
                    return orig(df)
                with self.span(COLLECT_AS.get(self._last_top, "api.collect")):
                    return orig(df)

            return collect

        frame_cls = type(spark.range(1))  # the concrete DataFrame class
        p(frame_cls, "collect", collect_make)

        # tree-merge rounds: mapInPandas plans built inside a merge span
        def mip_make(orig):
            def map_in_pandas(df, *args, **kwargs):
                if self._innermost() == "approx_agg.merge":
                    self.note("merge_round", True)
                return orig(df, *args, **kwargs)

            return map_in_pandas

        p(frame_cls, "mapInPandas", mip_make)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            if isinstance(owner, type) or not hasattr(type(owner), attr):
                setattr(owner, attr, orig)
            else:  # an instance attribute shadowing a method
                delattr(owner, attr)


# ------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, input and shuffle-write
    bytes, executor CPU, Python-worker time and bytes sent to Python
    workers, from an uncompressed, non-rolling Spark event log."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    g["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == "time to run Python workers":
                            g["python_worker_s"] += float(acc.get("Update", 0)) / 1e3
                        elif name == "data sent to Python workers":
                            g["python_bytes_sent"] += float(acc.get("Update", 0))
    return out


# ------------------------------------------------------- sketch kernels
def sketch_kernels(seed: int, rows: int = 200_000, groups: int = 1_400) -> dict:
    """Driver-side rows (or states) per second of the numpy sketch
    kernels on seeded arrays; median of five timed calls each."""
    from verdictdb_spark import CmsSketch, HllSketch, KllSketch

    rng = np.random.default_rng([seed, 7])
    hashes = rng.integers(-(2**63), 2**63 - 1, rows, dtype=np.int64)
    codes = rng.integers(0, groups, rows)
    values = rng.standard_normal(rows)
    hll, cms, kll = HllSketch(p=12), CmsSketch(), KllSketch(k=256)
    states = [hll.build(hashes[i::64]) for i in range(64)]

    def rate(fn, n):
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return n / statistics.median(times)

    return {
        "sketches.hll_update_rows_per_s": rate(lambda: hll.build_grouped(hashes, codes, groups), rows),
        "sketches.hll_merge_states_per_s": rate(lambda: hll.merge_many(states), len(states)),
        "sketches.cms_update_rows_per_s": rate(lambda: cms.update(cms.empty(), hashes), rows),
        "sketches.kll_update_rows_per_s": rate(lambda: kll.update(kll.empty(), values), rows),
    }


# --------------------------------------------------------- layer metrics
def _self_times(spans: list[list]) -> list[float]:
    self_t = [s[2] - s[1] for s in spans]
    for s in spans:
        if s[3] is not None:
            self_t[s[3]] -= s[2] - s[1]
    return self_t


def layer_metrics(rec: Recorder, n_ops: int, spark_groups: dict[str, dict]) -> dict:
    """The per-layer numbers of one traced phase, per op where the
    metric is a time or a Spark counter."""
    spans = rec.spans
    self_t = _self_times(spans)
    per_op = max(n_ops, 1)

    def total(*names: str, outermost: bool = False) -> float:
        return sum(
            s[2] - s[1]
            for s in spans
            if s[0] in names and not (outermost and s[3] is not None and spans[s[3]][0] in names)
        )

    def durations(name: str) -> list[float]:
        return [s[2] - s[1] for s in spans if s[0] == name]

    def mean(xs) -> float:
        xs = [x for x in xs if x is not None]
        return float(sum(xs) / len(xs)) if xs else 0.0

    def per_calling_op(name: str) -> float:
        """Mean over the ops that ran ``name`` of its time in each."""
        by_op: dict = defaultdict(float)
        for s in spans:
            if s[0] == name:
                by_op[s[4]] += s[2] - s[1]
        return mean(by_op.values())

    front = [i for i, s in enumerate(spans) if s[0] in ("api.sql", "api.stream")]
    sql_ops = {spans[i][4] for i in front}
    fallback_ops = set(rec.notes["fallback"])
    prog_yields = rec.notes["progressive.yield"]
    prog_runs = prog_yields.count(0)
    joins = rec.notes["join.yield"]
    merges = durations("approx_agg.merge")
    op_time = sum(s[2] - s[1] for s in spans if s[0] == OP)
    attributed = sum(t for s, t in zip(spans, self_t) if s[0] in ATTRIBUTED)

    out = {
        "sqlparse.parse_s": total("sqlparse.parse", outermost=True) / per_op,
        "api.self_s": sum(self_t[i] for i in front) / per_op,
        "api.collect_s": total("api.collect") / per_op,
        "api.approx_share": (len(sql_ops - fallback_ops) / len(sql_ops)) if sql_ops else 0.0,
        "api.fallbacks": float(len(fallback_ops)),
        "scramble.load_s": total("scramble.load") / per_op,
        "scramble.load_calls": len(durations("scramble.load")) / per_op,
        "scramble.append_s": per_calling_op("scramble.append"),
        "progressive.spans": len(prog_yields) / prog_runs if prog_runs else 0.0,
        "progressive.span_s": mean(durations("progressive.span")),
        "progressive.first_span_s": mean(rec.notes["progressive.first_span"]),
        "progressive.scan_fraction": mean(rec.notes["fold.scan_fraction"]),
        "progressive.fold_s": total("progressive.fold") / per_op,
        "progressive.spark_engine_share": mean([float(x) for x in rec.notes["fold.spark_engine"]]),
        "join.s": total("join.span", "join.span.end") / per_op,
        "join.spans": len(joins) / joins.count(0) if joins else 0.0,
        "approx_agg.build_s": total("approx_agg.build") / per_op,
        "approx_agg.merge_s": sum(merges) / per_op,
        "approx_agg.finalize_s": total("approx_agg.finalize") / per_op,
        "approx_agg.merge_rounds": len(rec.notes["merge_round"]) / len(merges) if merges else 0.0,
        "approx_agg.partial_states": mean(rec.notes["partial_states"]),
        "dedup.signature_s": total("dedup.signature") / per_op,
        "dedup.candidates_s": total("dedup.candidates") / per_op,
        "dedup.cc_s": total("dedup.cc") / per_op,
        "dedup.keep_s": total("dedup.keep") / per_op,
        "trace.unattributed_share": 1 - attributed / op_time if op_time else 0.0,
    }
    groups = [g for key, g in spark_groups.items() if key.startswith("traced-")]
    for key in (
        "jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
        "executor_cpu_s", "python_worker_s", "python_bytes_sent",
    ):
        out[f"spark.{key}"] = sum(g.get(key, 0.0) for g in groups) / per_op
    return out
