"""Dump what the sketch and near-duplicate operators answer on fixed inputs.

Starts one local Spark session, builds small seeded inputs (a
``datagen.code_files`` corpus with an id column, a table of nullable
integer keys, a matrix of embeddings with planted near-copies) and
prints one canonical JSON line per op, sorted by op name:
``{"op": name, "rows": [...]}`` with the answer's rows as dicts, sorted,
binary values as their sha256, or ``{"op": name, "raises": <exception
class>}``.  The ops cover HLL (the build's partial states with their
``n_rows``/``checksum`` lineage, also over a NULL-bearing int key in
500-row Arrow batches, and the estimates), top-k, KLL,
t-digest, progressive quantiles, the incremental state merge,
``approx_frequency``, ``hll_overlap``, ``dedup_minhash``, LSH, SimHash
and embedding pairs, ``exact_jaccard`` over the LSH pairs, char-mode
MinHash signatures, ``dedup_embeddings``, ``ann_top_k`` and
``cosine_top_k``; the ``*_null_vector`` ops add one NULL embedding row.
The ``components_*`` ops run ``connected_components`` on a 200-hop
chain, a random sparse graph and the same graph with string ids, each
on the driver finish and on the distributed star rounds.
The ``fold_*`` ops print where a progressive run stopped — its
``iteration``, ``blocks_covered`` and estimates (floats to 12
significant digits, NaN as null) — on seeded scrambles: ``approx_agg``
on the driver and the pinned Spark engine under ``doubling`` and
``linear`` and over a NULL-only block prefix, a ``sql()`` percentile
with early stop, and ``ResultStream.until_converged``.

    python tools/op_dump.py [--repo DIR] [--messages] > ops.jsonl

``--repo`` picks the checkout whose package is imported (default: this
one); ``--messages`` adds exception messages.  Diffing the dumps of two
checkouts shows whether an operator change keeps every answer.  Run it
from a directory outside both checkouts, so the Python workers import
the shipped package and not one found in the working directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile

PROBS = [0.1, 0.5, 0.9]


def _plain(value):
    if isinstance(value, (bytes, bytearray)):
        return "sha256:" + hashlib.sha256(value).hexdigest()
    if isinstance(value, dict):
        return {k: _plain(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_plain(v) for v in value]
    return value


def _rows(df, drop=()):
    rows = [_plain(r.asDict(recursive=True)) for r in df.collect()]
    for r in rows:
        for c in drop:
            r.pop(c, None)
    return sorted(rows, key=lambda r: json.dumps(r, sort_keys=True))


def _num(value):
    if isinstance(value, float):
        return None if value != value else float(f"{value:.12g}")
    return value


def _fold(res, answer=None) -> dict:
    """Where a progressive run stopped, and what it answered (``answer``,
    a pandas frame, or else the snapshot's estimates)."""
    answer = res.estimates if answer is None else answer
    rows = [{k: _num(v) for k, v in r.items()} for r in answer.to_dict("records")]
    return {
        "iteration": res.iteration,
        "blocks_covered": res.blocks_covered,
        "estimates": sorted(rows, key=lambda r: json.dumps(r, sort_keys=True)),
    }


def folds(spark, tmp: str) -> dict:
    """Op name -> a no-argument callable returning a ``_fold``: the
    early-stop runs of every progressive consumer on seeded scrambles."""
    from pyspark.sql import functions as F

    from verdictdb_spark.api import VerdictContext
    from verdictdb_spark.operators import quantile
    from verdictdb_spark.sampling import AggSpec, ScrambleMeta, approx_agg, create_scramble
    from verdictdb_spark.sampling import progressive_agg
    from verdictdb_spark.sampling.scramble import BLOCK_COL, TIER_COL
    from verdictdb_spark.streaming import ResultStream

    n = 40_000
    df = spark.range(n).select(
        "id", (F.col("id") % 3).alias("g"), (F.col("id") % 11).cast("double").alias("v")
    )
    sdf, meta = create_scramble(df, method="uniform", nblocks=32, seed=5, nrows=n)
    sdf = sdf.cache()
    aggs = [AggSpec("avg", "v", "a"), AggSpec("count", None, "c"), AggSpec("sum", "v", "s")]
    # blocks 0-2 hold only NULL x
    block = (F.col("id") % 8).cast("int")
    nulls = spark.range(4000).select(
        F.when(block >= 3, F.lit(1.0)).alias("x"), F.lit(0).alias(TIER_COL), block.alias(BLOCK_COL)
    )

    def agg(schedule, engine):
        return lambda: _fold(approx_agg(sdf, meta, aggs, ["g"], schedule=schedule, engine=engine))

    def null_prefix(engine):
        return lambda: _fold(approx_agg(
            nulls, ScrambleMeta(method="uniform", nblocks=8, original_count=4000),
            [AggSpec("sum", "x", "s")], [], schedule="linear", engine=engine,
        ))

    def percentile():
        ctx = VerdictContext(spark, os.path.join(tmp, "fold_scrambles"))
        ctx.create_scramble("fold_t", df, method="uniform", nblocks=16, seed=5, nrows=n)
        steps = []
        orig = quantile.progressive_quantiles

        def recorded(*args, **kwargs):
            for res in orig(*args, **kwargs):
                steps.append(res)
                yield res

        quantile.progressive_quantiles = recorded
        try:
            out = ctx.sql("SELECT g, percentile(id, 0.5) AS med FROM fold_t GROUP BY g").toPandas()
        finally:
            quantile.progressive_quantiles = orig
        return _fold(steps[-1], out)

    def until_converged():
        stream = ResultStream(
            progressive_agg(sdf, meta, aggs[:2], ["g"], schedule="linear"), ["g"], ["a", "c"]
        )
        return _fold(stream.until_converged())

    return {
        "fold_driver_doubling": agg("doubling", "driver"),
        "fold_driver_linear": agg("linear", "driver"),
        "fold_spark_doubling": agg("doubling", "spark"),
        "fold_spark_linear": agg("linear", "spark"),
        "fold_null_prefix_driver": null_prefix("driver"),
        "fold_null_prefix_spark": null_prefix("spark"),
        "fold_sql_percentile": percentile,
        "fold_until_converged": until_converged,
    }


def inputs(spark):
    """(corpus, docs, nums, emb, emb_null): the seeded frames every op reads."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from verdictdb_spark.datagen import code_files

    corpus = code_files(spark, rows=4000, n_repos=30, partitions=4, seed=7, max_words=80)
    corpus = corpus.withColumn("id", F.monotonically_increasing_id()).cache()
    corpus.count()
    docs = corpus.where(F.col("id") % 4 == 0)  # ~1k rows for the pair operators
    rng = np.random.default_rng(11)
    nums = spark.createDataFrame(
        pd.DataFrame({
            "g": pd.array(rng.choice([1, 2, 3, None], size=3000), dtype="Int64"),
            "v": rng.zipf(1.6, size=3000) % 50,
        }),
        "g long, v long",
    )
    base = rng.standard_normal((300, 16)).astype(np.float32)
    near = base[:40] + 0.01 * rng.standard_normal((40, 16)).astype(np.float32)
    vecs = np.vstack([base, near])
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, schema).cache()
    # ten vectors, nine near-copies of them and one NULL vector
    emb_null = spark.createDataFrame(rows[:10] + rows[300:309] + [(999, None)], schema)
    return corpus, docs, nums, emb, emb_null


def ops(spark, tmp: str) -> dict:
    """Op name -> a no-argument callable returning the rows to print."""
    import numpy as np
    from pyspark.sql import functions as F

    import verdictdb_spark as vs
    from verdictdb_spark.api import VerdictContext
    from verdictdb_spark.operators import approx_agg, dedup, similarity
    from verdictdb_spark.operators.quantile import progressive_quantiles
    from verdictdb_spark.sketches.cms import CmsSketch
    from verdictdb_spark.sketches.hll import HllSketch
    from verdictdb_spark.streaming.incremental import _merge_into_state, read_sketch_state

    corpus, docs, nums, emb, emb_null = inputs(spark)
    q = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]

    def progressive():
        ctx = VerdictContext(spark, os.path.join(tmp, "scrambles"))
        sdf, meta = ctx.create_scramble("nums", nums, method="uniform", nblocks=6)
        steps = progressive_quantiles(sdf, meta, "v", PROBS, ["g"], k=64)
        return [
            {"step": i, "rows": _rows(res.estimates_sdf)} for i, res in enumerate(steps)
        ]

    def incremental():
        state = os.path.join(tmp, "state")
        cms = CmsSketch(eps=0.01, delta=0.05)
        for b in range(3):
            _merge_into_state(nums.where(F.col("v") % 3 == b), cms, "v", ["g"], state, b)
        return _rows(read_sketch_state(spark, state))

    def with_conf(key, value, build):
        """``build()`` with one Spark conf set, restored after."""
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            return build()
        finally:
            spark.conf.set(key, old)

    def small_batches(build):
        """``build()`` with 500-row Arrow batches: several per partition."""
        return with_conf("spark.sql.execution.arrow.maxRecordsPerBatch", "500", build)

    sig = dedup.minhash_signatures(docs, "id", "content", num_hashes=64)
    rng = np.random.default_rng(5)
    sparse = rng.integers(0, 400, size=(300, 2)).tolist()
    graphs = {
        "chain": spark.createDataFrame([(i, i + 1) for i in range(200)], "id_a long, id_b long"),
        "sparse": spark.createDataFrame(sparse, "id_a long, id_b long"),
        "strings": spark.createDataFrame(
            [(f"v{a}", f"v{b}") for a, b in sparse], "id_a string, id_b string"
        ),
    }

    def components(graph, path):
        """``connected_components`` of one graph on one path: the driver
        finish under the default broadcast threshold, star rounds at -1."""
        def build():
            return _rows(dedup.connected_components(graphs[graph]))

        if path == "driver":
            return build
        return lambda: with_conf("spark.sql.autoBroadcastJoinThreshold", "-1", build)

    return {
        **{
            f"components_{graph}_{path}": components(graph, path)
            for graph in graphs for path in ("driver", "distributed")
        },
        "hll_partials": lambda: _rows(
            approx_agg.build_partials(corpus, HllSketch(p=12), "content", ["repo", "lang"]),
            drop=["wall_ms"],
        ),
        "hll_partials_ungrouped": lambda: _rows(
            approx_agg.build_partials(corpus, HllSketch(p=10), "content"), drop=["wall_ms"]
        ),
        "hll_partials_null_key": lambda: small_batches(lambda: _rows(
            approx_agg.build_partials(nums, HllSketch(p=10), "v", ["g"]), drop=["wall_ms"]
        )),
        "hll": lambda: _rows(vs.approx_count_distinct_by(corpus, "content", ["repo", "lang"])),
        "hll_overlap": lambda: _rows(vs.hll_overlap(
            corpus.where(F.col("id") % 2 == 0), corpus.where(F.col("id") % 3 == 0),
            "content", ["lang"],
        )),
        "top_k": lambda: _rows(vs.approx_top_k(corpus, "repo", k=10)),
        "top_k_by_lang": lambda: _rows(vs.approx_top_k(corpus, "repo", 3, ["lang"])),
        "kll": lambda: _rows(
            vs.approx_quantiles(corpus, F.length("content"), PROBS, ["lang"], k=64)
        ),
        "tdigest": lambda: _rows(vs.approx_quantiles(
            corpus, F.length("content"), PROBS, ["lang"], method="tdigest"
        )),
        "progressive_quantiles": progressive,
        "incremental_merge": incremental,
        "frequency": lambda: _rows(vs.approx_frequency(corpus, "lang", ["python", "md", "zz"])),
        "frequency_grouped": lambda: _rows(
            vs.approx_frequency(nums, "v", [1, 2, 7, "abc", 49], ["g"])
        ),
        "frequency_empty_items": lambda: _rows(vs.approx_frequency(nums, "v", [], ["g"])),
        "dedup_minhash": lambda: _rows(
            vs.dedup_minhash(docs, "id", "content", threshold=0.8).select("id")
        ),
        "lsh_pairs": lambda: _rows(dedup.lsh_candidate_pairs(sig, "id", bands=16)),
        "exact_jaccard": lambda: _rows(dedup.exact_jaccard(
            docs, dedup.lsh_candidate_pairs(sig, "id", bands=16), "id", "content"
        )),
        "minhash_char": lambda: _rows(
            dedup.minhash_signatures(docs, "id", "content", num_hashes=16, shingle=4, mode="char")
        ),
        "lsh_pairs_min_jaccard": lambda: _rows(
            dedup.lsh_candidate_pairs(sig, "id", bands=16, min_est_jaccard=0.5)
        ),
        "simhash_pairs": lambda: _rows(
            dedup.simhash_near_duplicates(docs, "id", "content", max_hamming=3)
        ),
        "embedding_pairs": lambda: _rows(
            similarity.embedding_near_duplicates(emb, "vec_id", "embedding", threshold=0.95)
        ),
        "dedup_embeddings": lambda: _rows(
            similarity.dedup_embeddings(emb, "vec_id", "embedding", threshold=0.95)
            .select("vec_id")
        ),
        "ann_top_k": lambda: _rows(
            similarity.ann_top_k(emb, "embedding", q, 10, planes=6, id_col="vec_id")
        ),
        "cosine_top_k": lambda: _rows(
            similarity.cosine_top_k(emb, "embedding", q, 10, id_col="vec_id")
        ),
        "embedding_pairs_null_vector": lambda: _rows(similarity.embedding_near_duplicates(
            emb_null, "vec_id", "embedding", threshold=0.95, planes=4, bands=2
        )),
        "dedup_embeddings_null_vector": lambda: _rows(similarity.dedup_embeddings(
            emb_null, "vec_id", "embedding", threshold=0.95, planes=4, bands=2
        ).select("vec_id")),
        "cosine_top_k_null_vector": lambda: _rows(
            similarity.cosine_top_k(emb_null, "embedding", q, 20, id_col="vec_id")
        ),
        "ann_top_k_null_vector": lambda: _rows(
            similarity.ann_top_k(emb_null, "embedding", q, 5, planes=3, id_col="vec_id")
        ),
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    ap.add_argument("--messages", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.abspath(args.repo))
    import warnings

    from verdictdb_spark.session import get_spark

    warnings.simplefilter("ignore")
    spark = get_spark("op-dump", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        with tempfile.TemporaryDirectory() as tmp:
            table = ops(spark, tmp) | folds(spark, tmp)
            for name in sorted(table):
                try:
                    line = {"op": name, "rows": table[name]()}
                except Exception as e:
                    line = {"op": name, "raises": type(e).__name__}
                    if args.messages:
                        lines = [ln for ln in str(e).splitlines() if ln.strip()]
                        line["message"] = lines[-1] if lines else ""
                print(json.dumps(line, sort_keys=True), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
