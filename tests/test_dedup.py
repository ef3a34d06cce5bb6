"""Dedup operator tests: exact, MinHash+LSH, SimHash, connected components."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from verdictdb_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    dedup_minhash,
    exact_jaccard,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_near_duplicates,
)


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """documents + mutated near-copies + exact copies, deterministic."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    exact_copy = docs.withColumn("doc_id", F.col("doc_id") + 10_000)
    near_copy = docs.withColumn("doc_id", F.col("doc_id") + 20_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" trailing marker token"))
    )
    return docs.unionAll(exact_copy).unionAll(near_copy).cache()


def test_dedup_exact(spark, docs_with_dups):
    out = dedup_exact(docs_with_dups, "text", order_by="doc_id")
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    # exact copies collapse; near copies survive
    assert out.count() == 2 * base.count()
    # deterministic keeper: min doc_id
    kept = out.where(F.col("doc_id") < 10_000).count()
    assert kept == base.count()


def test_dedup_exact_normalized(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")], ["id", "t"]
    )
    assert dedup_exact(df, "t", order_by="id", normalize=True).count() == 2


def test_minhash_estimates_jaccard(spark, docs_with_dups):
    sig = minhash_signatures(docs_with_dups, "doc_id", "text", num_hashes=128, shingle=3)
    pairs = lsh_candidate_pairs(sig, "doc_id", bands=32)
    pdf = pairs.toPandas()
    # exact copies must be found with est_jaccard == 1
    exact_pairs = pdf[(pdf.id_b - pdf.id_a == 10_000) & (pdf.id_a < 10_000)]
    assert len(exact_pairs) == 200
    assert (exact_pairs.est_jaccard == 1.0).all()
    # near copies (one token appended) found with high but <1 jaccard
    near = pdf[(pdf.id_b - pdf.id_a == 20_000) & (pdf.id_a < 10_000)]
    assert len(near) >= 190  # LSH recall at very high jaccard
    assert (near.est_jaccard > 0.5).all()
    # verification stage: exact jaccard close to estimate
    ver = exact_jaccard(docs_with_dups, pairs.limit(50), "doc_id", "text", shingle=3).toPandas()
    assert ((ver.jaccard - ver.est_jaccard).abs() < 0.2).all()


def test_dedup_minhash_removes_near_dups(spark, docs_with_dups):
    out = dedup_minhash(docs_with_dups, "doc_id", "text", threshold=0.5, shingle=3)
    n = out.count()
    # 600 rows -> <=200 clusters (every copy clusters with its base;
    # some distinct base docs also merge — tiny shared vocabulary)
    assert 150 <= n <= 200
    # keeper is always the min-id representative, i.e. a base doc
    assert out.where(F.col("doc_id") >= 10_000).count() == 0


def test_simhash_near_duplicates(spark, docs_with_dups):
    pairs = simhash_near_duplicates(docs_with_dups, "doc_id", "text", max_hamming=3)
    pdf = pairs.toPandas()
    # exact copies at hamming 0
    exact_pairs = pdf[(pdf.id_b - pdf.id_a == 10_000) & (pdf.id_a < 10_000)]
    assert len(exact_pairs) == 200 and (exact_pairs.hamming == 0).all()


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], ["id_a", "id_b"]
    )
    comp = connected_components(edges).toPandas().set_index("vertex")["component"]
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == comp[23] == 20


def test_connected_components_long_chain(spark):
    """A 200-hop chain: 1-hop-per-round label propagation would need 200
    rounds; large-star/small-star must converge in O(log^2 n)."""
    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    comp = connected_components(edges, max_iter=20).toPandas()
    assert (comp["component"] == 0).all()
    assert len(comp) == n + 1


def test_lsh_hot_bucket_cap(spark):
    """A corpus with 5k byte-identical docs must complete via the
    representative-star route, emitting O(m) spanning edges, not
    O(m^2) all-pairs — and dedup must still collapse them to one."""
    from verdictdb_spark.operators.dedup import _bucket_pairs, dedup_minhash

    m = 5000
    docs = spark.range(m).select(
        F.col("id").alias("doc_id"),
        F.lit("the exact same document text repeated verbatim here").alias("text"),
    )
    sig = minhash_signatures(docs, "doc_id", "text", num_hashes=64, shingle=3)
    pairs = lsh_candidate_pairs(
        sig, "doc_id", bands=16, num_hashes=64, hot_bucket_cap=100
    )
    n_pairs = pairs.count()
    assert n_pairs == m - 1  # star edges from the min-id representative
    out = dedup_minhash(docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, shingle=3)
    assert out.count() == 1

    # small buckets still do exact all-pairs
    keyed = spark.createDataFrame(
        [(i, 0, 7) for i in range(4)], ["_id", "band", "bh"]
    )
    assert _bucket_pairs(keyed, ["band", "bh"], hot_bucket_cap=10).count() == 6


def test_simhash_hot_bucket_cap(spark):
    m = 3000
    docs = spark.range(m).select(
        F.col("id").alias("doc_id"),
        F.lit("identical text body for every single row").alias("text"),
    )
    pairs = simhash_near_duplicates(docs, "doc_id", "text", max_hamming=0, hot_bucket_cap=64)
    assert pairs.count() == m - 1
    assert pairs.agg(F.max("hamming")).first()[0] == 0


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _components(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return dict(map(tuple, connected_components(df).toPandas().values.tolist()))


def test_connected_components_two_stars_after_round_one(spark):
    """After one round the path 1-2-3-4-0 is {2->0, 2->1, 3->1, 4->0}:
    every target is a root, but vertex 2 is the smaller neighbour of
    two different stars, so it is not a star forest yet and stopping
    there would split the component."""
    from verdictdb_spark.operators import dedup

    edges = [(0, 4), (1, 2), (2, 3), (3, 4)]
    e = spark.createDataFrame(edges, ["s", "d"])
    round_one = dedup._small_star(dedup._large_star(dedup._neighbourhoods(e)))
    assert sorted(map(tuple, round_one.collect())) == [(2, 0), (2, 1), (3, 1), (4, 0)]
    got = _components(spark, edges)
    assert got == _union_find_components(edges)
    assert set(got.values()) == {0}


def test_connected_components_star_forest_input_stops_after_one_round(spark, monkeypatch):
    """An input that already is a star forest (either edge orientation)
    stays one through a round, and the stop rule ends there — no
    confirming round."""
    from verdictdb_spark.operators import dedup

    rounds = []
    small_star = dedup._small_star

    def counted(e):
        rounds.append(1)
        return small_star(e)

    monkeypatch.setattr(dedup, "_small_star", counted)
    edges = [(1, 5), (7, 1), (1, 9), (3, 2), (20, 11)]
    assert _components(spark, edges) == _union_find_components(edges)
    assert len(rounds) == 1


def test_connected_components_random_sparse_graphs(spark):
    import random

    rng = random.Random(11)
    for n, m in ((60, 40), (200, 180), (400, 300)):
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        # a vertex with only a self-loop has no component row
        linked = {x for a, b in edges if a != b for x in (a, b)}
        want = {v: c for v, c in _union_find_components(edges).items() if v in linked}
        assert _components(spark, edges) == want
