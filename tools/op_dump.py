"""Dump what the sketch and near-duplicate operators answer on fixed inputs.

Starts one local Spark session, builds small seeded inputs (a
``datagen.code_files`` corpus with an id column, a table of nullable
integer keys, a matrix of embeddings with planted near-copies) and
prints one canonical JSON line per op, sorted by op name:
``{"op": name, "rows": [...]}`` with the answer's rows as dicts, sorted,
binary values as their sha256, or ``{"op": name, "raises": <exception
class>}``.  The ops cover HLL (the build's partial states with their
``n_rows``/``checksum`` lineage, and the estimates), top-k, KLL,
t-digest, progressive quantiles, the incremental state merge,
``approx_frequency``, ``hll_overlap``, ``dedup_minhash``, LSH, SimHash
and embedding pairs, ``dedup_embeddings``, ``ann_top_k`` and
``cosine_top_k``; the ``*_null_vector`` ops add one NULL embedding row.

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

    sig = dedup.minhash_signatures(docs, "id", "content", num_hashes=64)
    return {
        "hll_partials": lambda: _rows(
            approx_agg.build_partials(corpus, HllSketch(p=12), "content", ["repo", "lang"]),
            drop=["wall_ms"],
        ),
        "hll_partials_ungrouped": lambda: _rows(
            approx_agg.build_partials(corpus, HllSketch(p=10), "content"), drop=["wall_ms"]
        ),
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
            table = ops(spark, tmp)
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
