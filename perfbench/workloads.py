"""The four benchmark workloads.

Each workload is driven only through the library's public API and has
the same shape:

* ``inputs()``  — the parquet inputs ``exact.py inputs`` writes;
* ``setup(root)`` — the set-up (scramble DDL or corpus caching) into
  a fresh scramble root;
* ``warm_specs()`` / ``plan()`` — op specs from the seed: one warm-up
  cycle of the workload's op kinds, then the closed-loop sequence,
  cycle after cycle;
* ``run(spec)`` — one op, its answer collected on the driver;
* ``judge(spec, result, ref)`` — the check against the exact DuckDB
  answer ``ref`` (a pandas frame).

A spec is a JSON-able dict: ``i``, ``kind``, the Spark-side text or
parameters, and ``ref``, the DuckDB query whose answer it is checked
against.
"""

from __future__ import annotations

import math
import os
from datetime import timedelta
from itertools import count
from typing import Iterator

import numpy as np

from perfbench import judge
from perfbench.inputs import SHIP_HI, SHIP_LO

SHIP_DAYS = (SHIP_HI - SHIP_LO).days

# small-group GROUP BYs (2..27 groups, the front door's driver engine)
GROUPINGS = [
    ["l_returnflag"],
    ["l_linestatus"],
    ["l_returnflag", "l_linestatus"],
    ["l_linenumber"],
    ["l_tax"],
    ["l_returnflag", "l_tax"],
]
# alias -> aggregate text, valid in Spark SQL and DuckDB alike
AGGREGATES = {
    "sum_qty": "sum(l_quantity)",
    "cnt": "count(*)",
    "avg_price": "avg(l_extendedprice)",
    "revenue": "sum(l_extendedprice * (1 - l_discount))",
    "var_qty": "var_samp(l_quantity)",
    "sd_price": "stddev_samp(l_extendedprice)",
    "px_per_qty": "sum(l_extendedprice) / sum(l_quantity)",
}
CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"


def _date_filter(rng, frac: float, disc: float | None = None) -> str:
    """A ship-date window at a seeded position holding ``frac`` of the
    data's date range, optionally capped on discount."""
    width = max(int(SHIP_DAYS * frac), 1)
    start = int(rng.integers(0, SHIP_DAYS - width + 1))
    a = SHIP_LO + timedelta(days=start)
    b = a + timedelta(days=width)
    cond = f"l_shipdate >= '{a}' AND l_shipdate < '{b}'"
    if disc is not None:
        cond += f" AND l_discount <= {disc:.2f}"
    return cond


def _agg_query(keys: list[str], aggs: list[str], where: str) -> str:
    items = ", ".join(keys + [f"{AGGREGATES[a]} AS {a}" for a in aggs])
    return f"SELECT {items} FROM lineitem WHERE {where} GROUP BY {', '.join(keys)}"


def _with_rows(sql: str) -> str:
    """``sql`` with each group's exact row count as ``_n``: the sample
    size behind an estimate, for the gross-error check."""
    return sql.replace(" FROM ", ", count(*) AS _n FROM ", 1)


def _random_agg_query(rng) -> tuple[str, list[str]]:
    keys = GROUPINGS[int(rng.integers(len(GROUPINGS)))]
    aggs = list(rng.choice(list(AGGREGATES), size=int(rng.integers(2, 4)), replace=False))
    return _agg_query(keys, aggs, _date_filter(rng, rng.uniform(0.05, 1.0))), keys


class Workload:
    name = ""
    path: str | None = None  # the scramble whose storage is reported
    kinds: tuple[str, ...] = ()
    answer_kinds: tuple[str, ...] = ()  # kinds timed as answers

    def __init__(self, spark, run_dir: str, seed: int, size: dict):
        self.spark = spark
        self.run_dir = run_dir
        self.data = os.path.join(run_dir, "data")
        self.seed = seed
        self.size = size

    def inputs(self) -> dict:
        return {"sf": self.size["sf"]}

    def view(self, name: str) -> None:
        self.spark.read.parquet(os.path.join(self.data, f"{name}.parquet")).createOrReplaceTempView(name)

    def warm_specs(self) -> list[dict]:
        rng = np.random.default_rng([self.seed, 99])
        return [self.spec(kind, rng) for kind in dict.fromkeys(self.kinds)]

    def plan(self) -> Iterator[dict]:
        rng = np.random.default_rng([self.seed, 2])
        for i in count():
            spec = self.spec(self.kinds[i % len(self.kinds)], rng)
            spec["i"] = i
            yield spec

    def storage(self) -> dict:
        """On-disk bytes per row and parquet files per block of the
        scramble as it stands."""
        from verdictdb_spark.sampling.scramble import ScrambleMeta

        files = nbytes = 0
        for d, _, names in os.walk(self.path):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, n))
        with open(os.path.join(self.path, "_verdictdb_meta.json")) as f:
            nblocks = ScrambleMeta.from_json(f.read()).nblocks
        rows = self.spark.read.parquet(self.path).count()
        return {"bytes_per_row": nbytes / max(rows, 1), "files_per_block": files / max(nblocks, 1)}


class FoldProbe:
    """Whether every ``fold_progressive`` of the current op returned a
    full-coverage answer.  It wraps the module attribute the front door
    looks up (one call per fold, no timing), so untraced runs can hold
    full-coverage answers to the exact rules."""

    def __init__(self):
        from verdictdb_spark.sampling import progressive

        self.folds: list = []  # (is_exact, coverage) of each fold
        orig = progressive.fold_progressive

        def fold_progressive(*args, **kwargs):
            res = orig(*args, **kwargs)
            self.folds.append((bool(res.is_exact), res.coverage))
            return res

        progressive.fold_progressive = fold_progressive

    def verdict(self, result, ref, keys: list[str]) -> dict:
        """``judge.approximate`` with the op's coverage: exact rules when
        every fold covered every block."""
        full = bool(self.folds) and all(e for e, _ in self.folds)
        coverage = min((c for _, c in self.folds), default=None)
        return judge.approximate(judge.rows_of(result), ref, keys, full, coverage)


class OrderSlices:
    """Slices of lineitem by order key at a seeded rotation: slice 0
    holds the first ``base`` of ``n`` keys, slice ``j`` the next
    ``step``."""

    def __init__(self, seed: int, n: int, base: int, step: int):
        self.n, self.base, self.step = n, base, step
        self.off = int(np.random.default_rng([seed, 3]).integers(0, n))

    def hi(self, j: int) -> int:
        return min(self.base + self.step * j, self.n)

    def pred(self, hi: int, lo: int = 0, duck: bool = False) -> str:
        n, off = self.n, self.off
        key = f"((l_orderkey + {off}) % {n})" if duck else f"pmod(l_orderkey + {off}, {n})"
        return f"{key} >= {lo} AND {key} < {hi}" if lo else f"{key} < {hi}"

    def create(self, name: str, nblocks: int, rows: int) -> str:
        return (
            f"CREATE SCRAMBLE {name} FROM lineitem WHERE {self.pred(self.hi(0))} "
            f"METHOD uniform BLOCKSIZE {math.ceil(rows * self.base / self.n / nblocks)}"
        )

    def append(self, name: str, j: int) -> dict:
        lo, hi = self.hi(j - 1), self.hi(j)
        return {
            "kind": "append",
            "sql": f"APPEND SCRAMBLE {name} WHERE {self.pred(hi, lo)}",
            "ref": f"SELECT count(*) AS appended_rows FROM lineitem "
            f"WHERE {self.pred(hi, lo, duck=True)}",
        }

    def so_far(self, sql: str, j: int) -> str:
        """``sql`` over the rows of slices 0..j: its DuckDB reference."""
        rows = f"(SELECT * FROM lineitem WHERE {self.pred(self.hi(j), duck=True)}) lineitem"
        return sql.replace("FROM lineitem", f"FROM {rows}", 1)


# ------------------------------------------------------------ interactive
class Interactive(Workload):
    """Early-stop aggregates through ``sql()`` and ``stream()``, and one
    append with a full-coverage read of the appended scramble."""

    name = "interactive"
    # A fixed 11-slot cycle: 2 stream() ops, 4 rewritable aggregates
    # (2 with error bars), one percentile, one 3-scramble join, one
    # COUNT(DISTINCT) over the hash scramble, then one APPEND SCRAMBLE
    # and one full-coverage GROUP BY l_partkey over the appended
    # scramble.  Each read slot fixes the query's shape, its date-window
    # selectivity (10% to 100% across the cycle) and its discount cap;
    # the seed draws where the windows sit.  So every cycle has the same
    # mix and the same cost range.
    SLOTS = (
        ("agg", 0, ["sum_qty", "avg_price"], 0.75, None),
        ("stream", 2, ["revenue", "cnt"], 0.35, 0.06),
        ("agg_err", 1, ["sum_qty", "var_qty"], 0.1, None),
        ("percentile", 0, [], 0.6, None),
        ("agg", 3, ["revenue", "px_per_qty"], 0.35, 0.08),
        ("stream", 0, ["sum_qty", "cnt"], 0.1, None),
        ("agg_err", 5, ["cnt", "avg_price", "sd_price"], 1.0, None),
        ("join", 0, [], 0.35, None),
        ("distinct", 0, [], 0.35, None),
        ("append", 0, [], 0, None),
        ("full", 0, [], 0, None),
    )
    kinds = tuple(s[0] for s in SLOTS)
    answer_kinds = tuple(k for k in kinds if k != "append")
    FULL = (
        "SELECT l_partkey, count(*) AS cnt, sum(l_quantity) AS sum_qty, "
        f"sum({CENTS}) AS rev_cents FROM lineitem GROUP BY l_partkey"
    )

    def _slices(self) -> OrderSlices:
        n = self.size["rows"]["orders"]
        return OrderSlices(self.seed, n, n // 10, n // 100)

    def setup(self, root: str) -> None:
        from verdictdb_spark import VerdictContext

        for t in ("lineitem", "orders", "customer"):
            self.view(t)
        rows = self.size["rows"]
        self.probe = FoldProbe()
        self.ctx = VerdictContext(self.spark, os.path.join(root, "main"))
        for t, nb in (("lineitem", self.size["blocks"]), ("orders", 4), ("customer", 2)):
            self.ctx.sql(
                f"CREATE SCRAMBLE {t}_u FROM {t} METHOD uniform "
                f"BLOCKSIZE {math.ceil(rows[t] / nb)}"
            ).collect()
        self.ctx_hash = VerdictContext(self.spark, os.path.join(root, "hash"))
        self.ctx_hash.sql(
            "CREATE SCRAMBLE lineitem_h FROM lineitem METHOD hash HASHCOLUMN l_orderkey "
            f"BLOCKSIZE {math.ceil(rows['lineitem'] / 8)}"
        ).collect()
        # the appended scramble: a tenth of the order keys, a hundredth
        # appended per cycle
        self.ctx_append = VerdictContext(self.spark, os.path.join(root, "append"))
        self.ctx_append.sql(self._slices().create("lineitem_a", 10, rows["lineitem"])).collect()
        self.path = os.path.join(root, "append", "lineitem_a")
        # its GROUP BY l_partkey (~one group per 3 rows) crosses onto
        # the Spark estimator, as the same query over all of lineitem
        # does at the default threshold
        self.ctx_append.sql(f"SET verdictdb.engine_threshold = {rows['lineitem'] // 30}")

    def warm_specs(self) -> list[dict]:
        # the warm-up cycle appends slice 1; the plan starts at slice 2
        rng = np.random.default_rng([self.seed, 99])
        return [self.spec(i, rng, 1) for i in range(len(self.SLOTS))]

    def plan(self) -> Iterator[dict]:
        rng = np.random.default_rng([self.seed, 2])
        for i in count():
            spec = self.spec(i % len(self.SLOTS), rng, 2 + i // len(self.SLOTS))
            spec["i"] = i
            yield spec

    def spec(self, slot: int, rng, j: int) -> dict:
        kind, grouping, aggs, frac, disc = self.SLOTS[slot]
        if kind == "append":
            return self._slices().append("lineitem_a", j)
        if kind == "full":
            return {"kind": kind, "sql": self.FULL, "ref": self._slices().so_far(self.FULL, j),
                    "keys": ["l_partkey"], "ints": ["cnt", "sum_qty", "rev_cents"]}
        where = _date_filter(rng, frac, disc)
        if kind in ("agg", "agg_err", "stream"):
            keys = GROUPINGS[grouping]
            sql = _agg_query(keys, aggs, where)
            return {"kind": kind, "sql": sql, "ref": _with_rows(sql), "keys": keys}
        if kind == "percentile":
            return {
                "kind": kind,
                "sql": f"SELECT percentile(l_extendedprice, 0.5) AS pq FROM lineitem WHERE {where}",
                "ref": f"SELECT quantile_cont(l_extendedprice, 0.5) AS pq FROM lineitem WHERE {where}",
                "keys": [],
            }
        if kind == "join":
            # lineitem x orders x customer, all three scrambles
            sql = (
                "SELECT c_mktsegment, sum(l_extendedprice) AS sum_price, count(*) AS cnt "
                "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                f"JOIN customer ON o_custkey = c_custkey WHERE {where} GROUP BY c_mktsegment"
            )
            return {"kind": kind, "sql": sql, "ref": _with_rows(sql), "keys": ["c_mktsegment"]}
        sql = f"SELECT count(DISTINCT l_orderkey) AS ndv FROM lineitem WHERE {where}"
        return {"kind": "distinct", "sql": sql, "ref": sql, "keys": []}

    def run(self, spec: dict):
        kind = spec["kind"]
        self.probe.folds.clear()
        if kind == "stream":
            gen = self.ctx.stream(spec["sql"])
            try:
                return next(gen)
            finally:
                gen.close()
        if kind == "append":
            return self.ctx_append.sql(spec["sql"]).collect()
        if kind == "full":
            return self.ctx_append.sql(spec["sql"], early_stop=False).collect()
        ctx = self.ctx_hash if kind == "distinct" else self.ctx
        return ctx.sql(spec["sql"], with_errors=kind == "agg_err").collect()

    def judge(self, spec: dict, result, ref) -> dict:
        kind = spec["kind"]
        if kind == "append":
            return judge.exact(judge.rows_of(result), ref, [], ["appended_rows"])
        if kind == "full":
            return judge.exact(judge.rows_of(result), ref, spec["keys"], spec["ints"])
        if kind == "stream":
            # the first refinement step: held to the gross-error caps,
            # and not sampled into the accuracy metrics, since it is the
            # stream's starting point rather than its answer
            v = judge.approximate(judge.rows_of(result.estimates), ref, spec["keys"],
                                  result.is_exact, result.coverage)
            return {"ok": v["ok"], "why": v["why"]}
        return self.probe.verdict(result, ref, spec["keys"])


# -------------------------------------------------------------- full_scan
class FullScan(Workload):
    """Exact-mode answers (``early_stop=False``) over three scrambles."""

    name = "full_scan"
    kinds = ("orderkey", "join2", "partkey", "join3", "aggdim")
    answer_kinds = kinds

    def setup(self, root: str) -> None:
        from verdictdb_spark import VerdictContext

        for t in ("lineitem", "orders", "customer"):
            self.view(t)
        rows = self.size["rows"]
        self.ctx = VerdictContext(self.spark, root)
        self.path = os.path.join(root, "lineitem_u")
        for t, nb in (("lineitem", 8), ("orders", 4), ("customer", 2)):
            self.ctx.sql(
                f"CREATE SCRAMBLE {t}_u FROM {t} METHOD uniform "
                f"BLOCKSIZE {math.ceil(rows[t] / nb)}"
            ).collect()
        self.ctx.sql(f"SET verdictdb.engine_threshold = {self.size['engine_threshold']}")

    def spec(self, kind: str, rng) -> dict:
        day = SHIP_LO + timedelta(days=int(rng.integers(0, SHIP_DAYS * 2 // 5)))
        if kind == "orderkey":
            sql = (
                "SELECT l_orderkey, sum(l_quantity) AS sum_qty, count(*) AS cnt FROM lineitem "
                f"WHERE l_shipdate >= '{day}' GROUP BY l_orderkey"
            )
            keys, ints = ["l_orderkey"], ["sum_qty", "cnt"]
        elif kind == "partkey":
            disc = rng.integers(5, 11) / 100
            sql = (
                f"SELECT l_partkey, count(*) AS cnt, sum({CENTS}) AS rev_cents FROM lineitem "
                f"WHERE l_discount <= {disc:.2f} GROUP BY l_partkey"
            )
            keys, ints = ["l_partkey"], ["cnt", "rev_cents"]
        elif kind == "join2":
            sql = (
                "SELECT o_orderpriority, sum(l_quantity) AS sum_qty, count(*) AS cnt, "
                f"sum({CENTS}) AS price_cents FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                f"WHERE l_shipdate >= '{day}' GROUP BY o_orderpriority"
            )
            keys, ints = ["o_orderpriority"], ["sum_qty", "cnt", "price_cents"]
        elif kind == "join3":
            sql = (
                "SELECT c_mktsegment, sum(l_quantity) AS sum_qty, count(*) AS cnt "
                "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                "JOIN customer ON o_custkey = c_custkey "
                f"WHERE l_shipdate >= '{day}' GROUP BY c_mktsegment"
            )
            keys, ints = ["c_mktsegment"], ["sum_qty", "cnt"]
        else:
            sql = (
                "SELECT o_orderstatus, count(*) AS n_orders, "
                "sum(CAST(round(qty) AS BIGINT)) AS total_qty "
                "FROM orders JOIN (SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem "
                f"WHERE l_shipdate >= '{day}' GROUP BY l_orderkey) t "
                "ON o_orderkey = l_orderkey GROUP BY o_orderstatus"
            )
            keys, ints = ["o_orderstatus"], ["n_orders", "total_qty"]
        return {"kind": kind, "sql": sql, "ref": sql, "keys": keys, "ints": ints}

    def run(self, spec: dict):
        return self.ctx.sql(spec["sql"], early_stop=False).collect()

    def judge(self, spec: dict, result, ref) -> dict:
        return judge.exact(judge.rows_of(result), ref, spec["keys"], spec["ints"])


# ------------------------------------------------------------- append_mix
class AppendMix(Workload):
    """Appends beside reads on one lineitem scramble."""

    name = "append_mix"
    kinds = ("append", "read", "read", "full")
    answer_kinds = ("read", "full")

    def _slices(self) -> OrderSlices:
        """Slice 0 is half the order keys; each slice adds 1/(2 * slices)."""
        n = self.size["rows"]["orders"]
        return OrderSlices(self.seed, n, n // 2, (n - n // 2) // self.size["slices"])

    def setup(self, root: str) -> None:
        from verdictdb_spark import VerdictContext

        self.view("lineitem")
        self.probe = FoldProbe()
        self.ctx = VerdictContext(self.spark, root)
        self.ctx.sql(self._slices().create("lineitem_a", 10, self.size["rows"]["lineitem"])).collect()
        self.path = os.path.join(root, "lineitem_a")
        self.ctx.sql(f"SET verdictdb.engine_threshold = {self.size['engine_threshold']}")

    def warm_specs(self) -> list[dict]:
        # the warm-up cycle appends slice 1; the plan starts at slice 2
        return list(self._cycle(1, np.random.default_rng([self.seed, 99])))

    def plan(self) -> Iterator[dict]:
        rng = np.random.default_rng([self.seed, 2])
        i = 0
        for j in range(2, self.size["slices"] + 1):
            for spec in self._cycle(j, rng):
                spec["i"] = i
                i += 1
                yield spec

    def _cycle(self, j: int, rng) -> Iterator[dict]:
        sl = self._slices()
        yield sl.append("lineitem_a", j)
        for _ in range(2):
            sql, keys = _random_agg_query(rng)
            yield {"kind": "read", "sql": sql, "keys": keys, "ref": sl.so_far(_with_rows(sql), j)}
        sql = (
            "SELECT l_returnflag, count(*) AS cnt, sum(l_quantity) AS sum_qty, "
            f"sum({CENTS}) AS rev_cents FROM lineitem GROUP BY l_returnflag"
        )
        yield {
            "kind": "full", "sql": sql, "keys": ["l_returnflag"],
            "ints": ["cnt", "sum_qty", "rev_cents"], "ref": sl.so_far(sql, j),
        }

    def run(self, spec: dict):
        self.probe.folds.clear()
        if spec["kind"] == "full":
            return self.ctx.sql(spec["sql"], early_stop=False).collect()
        return self.ctx.sql(spec["sql"]).collect()

    def judge(self, spec: dict, result, ref) -> dict:
        rows = judge.rows_of(result)
        if spec["kind"] == "append":
            return judge.exact(rows, ref, [], ["appended_rows"])
        if spec["kind"] == "full":
            return judge.exact(rows, ref, spec["keys"], spec["ints"])
        return self.probe.verdict(result, ref, spec["keys"])


# ----------------------------------------------------------- sketch_build
class SketchBuild(Workload):
    """Mergeable sketches and MinHash dedup over a cached code corpus."""

    name = "sketch_build"
    # two passes over the four op kinds per cycle: four ops alone are
    # too few for a geometric mean that holds from run to run
    kinds = ("hll", "topk", "kll", "dedup") * 2
    answer_kinds = kinds
    QUANTILES = [0.1, 0.25, 0.5, 0.75, 0.9]

    def inputs(self) -> dict:
        s = self.size
        return {"corpus_rows": s["corpus_rows"], "n_repos": s["n_repos"], "max_words": s["max_words"]}

    def setup(self, root: str) -> None:
        from pyspark.sql import functions as F

        parts = 2 * self.spark.sparkContext.defaultParallelism
        files = self.spark.read.parquet(os.path.join(self.data, "corpus.parquet"))
        self.files = files.repartition(parts).cache()
        self.files.count()
        self.slice = self.files.where(F.col("id") < self.size["dedup_rows"])
        # the warm-up cycle runs every op kind once over a fifth of the
        # dedup slice: it loads the code paths, not the data
        self.warm = self.files.where(F.col("id") < self.size["dedup_rows"] // 5)

    def warm_specs(self) -> list[dict]:
        return [{"kind": kind, "warm": True} for kind in dict.fromkeys(self.kinds)]

    def spec(self, kind: str, rng) -> dict:
        if kind == "hll":
            ref = "SELECT repo, lang, count(DISTINCT content) AS ndv FROM corpus GROUP BY repo, lang"
        elif kind == "topk":
            ref = "SELECT repo AS value, count(*) AS cnt FROM corpus GROUP BY repo"
        elif kind == "kll":
            ref = "SELECT lang, length(content) AS len FROM corpus"
        else:
            ref = (
                "SELECT id, hash(content) AS h, min(id) OVER (PARTITION BY content) AS rep "
                f"FROM corpus WHERE id < {self.size['dedup_rows']}"
            )
        return {"kind": kind, "ref": ref}

    def run(self, spec: dict):
        import verdictdb_spark as vs
        from pyspark.sql import functions as F

        kind = spec["kind"]
        files = self.warm if spec.get("warm") else self.files
        if kind == "hll":
            out = vs.approx_count_distinct_by(files, "content", ["repo", "lang"], p=12)
        elif kind == "topk":
            out = vs.approx_top_k(files, "repo", k=10)
        elif kind == "kll":
            out = vs.approx_quantiles(files, F.length("content"), self.QUANTILES, ["lang"], k=256)
        else:
            rows = self.warm if spec.get("warm") else self.slice
            out = vs.dedup_minhash(rows, "id", "content", threshold=0.8).select("id")
        return out.collect()

    def judge(self, spec: dict, result, ref) -> dict:
        rows = judge.rows_of(result)
        kind = spec["kind"]
        if kind == "hll":
            return judge.ndv(rows, ref)
        if kind == "topk":
            return judge.top_k(rows, ref, k=10, eps=1.0 / (1 << 14))
        if kind == "kll":
            return judge.quantiles(rows, ref, self.QUANTILES)
        return judge.same_ids(rows, ref)


WORKLOADS = {w.name: w for w in (Interactive, FullScan, SketchBuild, AppendMix)}
