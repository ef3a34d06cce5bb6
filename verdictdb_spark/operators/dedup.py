"""Deduplication operators for training-data pipelines.

Exact (hash group-by), MinHash+LSH (shingle -> minhash -> band ->
bucket-join), SimHash (hamming-ball near-dup), and exact n-gram
Jaccard verification for candidate pairs.  Embedding-cosine near-dup
lives in ``similarity.py``.

Design rules at 10^12-row scale:
* shingling/hashing happens JVM-side (split / transform / xxhash64
  inside whole-stage codegen) — Python never touches a string;
* candidate generation is a shuffle on (band, band_hash) buckets,
  never an all-pairs join, and buckets above a cap link members to a
  representative instead of emitting O(m^2) pairs;
* clustering is alternating large-star/small-star connected
  components (Kiveris et al. 2014) with localCheckpoint per round to
  cut lineage; converges in O(log^2 |V|) rounds independent of graph
  diameter.

ANSI-mode safe: no wrap-around arithmetic in JVM expressions — hash
families come from xxhash64(h, j) re-hashing instead of overflow
multiplies.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


# --------------------------------------------------------------- exact
def fingerprint_col(*cols: str | Column, normalize: bool = False) -> Column:
    """sha256 fingerprint of one or more columns (optionally
    whitespace/case-normalized for text).

    Collision-safe composition: each column is hashed to a FIXED-WIDTH
    digest first, then the digests concatenate — so neither NULLs
    (concat_ws silently skips them) nor separator bytes inside values
    can make two distinct key tuples collide.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    if normalize:
        cs = [F.regexp_replace(F.lower(F.trim(c.cast("string"))), r"\s+", " ") for c in cs]
    digests = [F.coalesce(F.sha2(c.cast("string"), 256), F.lit("#null")) for c in cs]
    if len(digests) == 1:
        return digests[0]
    return F.sha2(F.concat(*digests), 256)


def dedup_exact(
    df: DataFrame,
    key: Sequence[str] | Column | str,
    order_by: str | Column | None = None,
    normalize: bool = False,
) -> DataFrame:
    """Keep one row per exact (normalized) key — hash group-by dedup.

    One shuffle on the fingerprint; ties broken deterministically by
    ``order_by`` (required for reproducible runs).
    """
    if isinstance(key, (str, Column)):
        key = [key]
    fp = fingerprint_col(*key, normalize=normalize)
    if order_by is None:
        # deterministic default: full-row hash (identical full rows tie,
        # but they're identical) — shuffle order must never pick the row
        order = F.xxhash64(*[F.col(c) for c in df.columns])
    else:
        order = F.col(order_by) if isinstance(order_by, str) else order_by
    w = Window.partitionBy(fp).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


# --------------------------------------------------------------- shingles
def shingles_col(text: str | Column, n: int = 5, mode: str = "word") -> Column:
    """Array of n-gram shingles, computed fully JVM-side."""
    t = F.col(text) if isinstance(text, str) else text
    if mode == "word":
        w = F.split(F.lower(F.trim(t)), r"\s+")
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - F.lit(n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        )
    if mode == "char":
        lt = F.lower(t)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(lt) - F.lit(n - 1), F.lit(1))),
            lambda i: lt.substr(i, F.lit(n)),
        )
    raise ValueError(f"unknown shingle mode {mode!r}")


# --------------------------------------------------------------- MinHash
def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    shingle: int = 5,
    mode: str = "word",
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — MinHash of the shingle set.

    Pipeline: shingle + base hash JVM-side (explode + xxhash64 inside
    codegen); then ONE numpy pass per partition derives all
    ``num_hashes`` permutation hashes (multiply-shift family) and
    scatter-mins them into a per-doc signature matrix
    (``np.minimum.at`` — cost independent of doc count).  Docs are
    repartitioned by id first so each doc has a single owner — the
    only shuffle is (id, shingle-hash) int pairs.
    E[signature agreement] = Jaccard(shingles_a, shingles_b).

    (A pure-JVM 128-column min-aggregate version was 3-4x slower: 128
    aggregate buffers per row defeats codegen.)
    """
    import pandas as pd

    from ..hashing import _odd_multipliers
    from .approx_agg import factorize_keys

    # Repartition the COMPACT base rows by id BEFORE the explode: the
    # shingle/hash work then runs at full parallelism even when the
    # source has few files, and — because explode/select are narrow —
    # every doc's shingles already share a partition, so no second
    # shuffle of the (much larger) exploded pairs is needed.
    spark_parallelism = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        df.repartition(spark_parallelism, id_col)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(shingles_col(text_col, shingle, mode)).alias("_s"),
        )
        .select("_id", F.xxhash64("_s").alias("_h"))
    )
    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("sig", T.ArrayType(T.LongType()))]
    )
    k = num_hashes
    a_mults = _odd_multipliers(k, 0x31415926)

    def build_sigs(batches):
        key_rows: dict = {}
        flat = np.full(0, np.iinfo(np.uint64).max, dtype=np.uint64)
        j_off = np.arange(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            codes, uniq = factorize_keys(pdf, ["_id"])
            rows = np.empty(len(uniq), dtype=np.int64)
            for i, key in enumerate(uniq["_id"]):
                r = key_rows.get(key)
                if r is None:
                    r = len(key_rows)
                    key_rows[key] = r
                rows[i] = r
            if len(key_rows) * k > flat.size:
                flat = np.concatenate(
                    [flat, np.full(len(key_rows) * k - flat.size, np.iinfo(np.uint64).max, dtype=np.uint64)]
                )
            h = pdf["_h"].to_numpy().astype(np.uint64)
            gcodes = rows[codes]
            with np.errstate(over="ignore"):
                for j in range(k):
                    np.minimum.at(flat, gcodes * k + j, h * a_mults[j])
        if not key_rows:
            yield pd.DataFrame({out_schema[0].name: [], "sig": []})
            return
        mat = flat.reshape(-1, k).astype(np.int64)  # wraps to signed — fine, deterministic
        ids = list(key_rows.keys())
        yield pd.DataFrame({out_schema[0].name: ids, "sig": [r.tolist() for r in mat]})

    return sh.mapInPandas(build_sigs, out_schema)


def _materialized(df: DataFrame) -> bool:
    """True when the frame is already a materialized RDD scan (e.g. a
    prior ``localCheckpoint`` — callers that pass a shared signature
    fixture should not pay a second copy of it)."""
    try:
        return (
            df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LogicalRDD"
        )
    except Exception:
        return False


def _bucket_pairs(
    keyed: DataFrame,
    bucket_cols: list[str],
    hot_bucket_cap: int,
    warn_op: str | None = None,
) -> DataFrame:
    """Shared candidate-pair kernel: all-pairs within small buckets,
    star (min-id representative -> member) within hot buckets.

    ``keyed`` has columns (_id, *bucket_cols).  A bucket of m
    byte-identical docs — the normal hot case in web/code corpora —
    would emit m^2/2 join rows from a naive self-join; the star route
    emits m-1 spanning edges instead, which is exactly what the
    downstream connected-components clustering needs.  Member-member
    edges inside a hot bucket are intentionally not emitted; hot
    buckets are dominated by identical/near-identical docs, and the
    representative links preserve the clusters.  Returns (id_a, id_b)
    with id_a < id_b, deduplicated.

    PAIR-RECALL CONTRACT: when a bucket exceeds ``hot_bucket_cap``,
    only representative->member edges leave it — downstream
    CLUSTERING (connected components) is unaffected, but consumers of
    the raw PAIR LIST see member-member near-dup pairs suppressed
    above the cap.  Pair-returning operators pass ``warn_op`` so a
    fired cap emits a RuntimeWarning (one tiny agg job on the bucket
    statistics) instead of silently under-reporting.
    """
    stats = keyed.groupBy(*bucket_cols).agg(
        F.count(F.lit(1)).alias("_bn"), F.min("_id").alias("_rep")
    )
    if warn_op is not None:
        # materialize the (small) bucket-stats frame once: the warning
        # count and the tagging join below both read the checkpoint, so
        # the upstream signature/banding pipeline is not re-evaluated
        # for the warning probe.  Lazy: the count() right below is the
        # materializing action — an eager checkpoint would run a
        # separate job first
        stats = stats.localCheckpoint(eager=False)
        n_hot = stats.where(F.col("_bn") > hot_bucket_cap).count()
        if n_hot:
            import warnings

            warnings.warn(
                f"{warn_op}: {n_hot} bucket(s) exceeded hot_bucket_cap="
                f"{hot_bucket_cap}; member-member pairs inside them are "
                "linked through a representative only, so the returned "
                "pair list under-reports mutually-similar members "
                "(clustering via connected_components is unaffected)",
                RuntimeWarning,
            )
    tagged = keyed.join(stats, bucket_cols)
    # small buckets: collect the member ids per bucket (bounded by
    # hot_bucket_cap, so the array fits comfortably) and expand the
    # i<j pairs with JVM array expressions — ONE aggregation keyed the
    # same way as the tagged join (exchange reuse) instead of the
    # previous bucket self-join, which shuffled + sorted the banded
    # rows a second time.  Hot buckets never reach collect_list: the
    # streaming count/min stats above are the only aggregates they see.
    ids = F.array_sort(F.collect_list("_id"))
    lists = (
        tagged.where(F.col("_bn") <= hot_bucket_cap)
        .groupBy(*bucket_cols)
        .agg(ids.alias("_ids"))
    )
    pairs_small = lists.select(
        F.explode(
            F.flatten(
                F.transform(
                    "_ids",
                    lambda x, i: F.transform(
                        F.slice("_ids", i + F.lit(2), F.size("_ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    pairs_hot = (
        tagged.where((F.col("_bn") > hot_bucket_cap) & (F.col("_id") != F.col("_rep")))
        .select(F.col("_rep").alias("id_a"), F.col("_id").alias("id_b"))
    )
    return pairs_small.unionAll(pairs_hot).dropDuplicates(["id_a", "id_b"])


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 32,
    min_est_jaccard: float = 0.0,
    num_hashes: int | None = None,
    hot_bucket_cap: int = 1024,
    warn_hot_buckets: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    Docs sharing any band bucket become a candidate pair; est_jaccard
    is the full-signature agreement fraction.  Returns
    (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated across
    bands.  Shuffle cost: |docs| x bands rows of (id, band, hash).

    Pass ``num_hashes`` when known (it is a build parameter, not
    data): inferring it runs an extra upstream job just to read one
    signature.  Buckets larger than ``hot_bucket_cap`` are linked
    through their min-id representative instead of all-pairs — see
    ``_bucket_pairs`` — bounding per-bucket join output at scale.
    ``warn_hot_buckets=False`` skips the fired-cap warning and the
    bucket-statistics job behind it: pass it when the pairs only feed
    ``connected_components``, whose clusters the cap cannot change.
    """
    if num_hashes is None:
        num_hashes = len(sig_df.select("sig").first()["sig"])
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    if not _materialized(sig_df):
        sig_df = sig_df.localCheckpoint()  # reused three times below
    # slim banding rows: the self-join and the pair-dedup shuffle carry
    # only (id, band, hash) — the 1KB signature arrays would otherwise
    # be replicated x bands through the shuffle
    banded = sig_df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.slice("sig", b * r + 1, r)).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bh")
    pairs = _bucket_pairs(
        banded, ["band", "bh"], hot_bucket_cap,
        warn_op="lsh_candidate_pairs" if warn_hot_buckets else None,
    )
    # attach signatures once per deduped pair to estimate jaccard
    sa = sig_df.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig_df.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.lit(float(num_hashes))
    ).alias("est_jaccard")
    out = joined.select("id_a", "id_b", est)
    if min_est_jaccard > 0:
        out = out.where(F.col("est_jaccard") >= min_est_jaccard)
    return out


def exact_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 5,
    mode: str = "word",
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification
    stage — only runs on the candidate set, never all pairs)."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles_col(text_col, shingle, mode)).alias("_set"),
    )
    j = (
        pairs.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_set", "set_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_set", "set_b"), "id_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = F.size(F.array_union("set_a", "set_b")).cast("double")
    return j.select("id_a", "id_b", "est_jaccard", (inter / union).alias("jaccard"))


def dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle: int = 5,
    mode: str = "word",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate removal: keep one representative (min id) per
    connected cluster of pairs with est_jaccard >= threshold.

    ``signatures``: pre-computed ``minhash_signatures`` output for the
    same (df, num_hashes, shingle, mode) — pass it when a pipeline
    also runs LSH/Jaccard stages so the signature build (the dominant
    cost) happens once."""
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(df, id_col, text_col, num_hashes, shingle, mode)
    )
    pairs = lsh_candidate_pairs(
        sig, id_col, bands, min_est_jaccard=threshold, num_hashes=num_hashes,
        warn_hot_buckets=False,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    # rows whose id maps to a component keep only the representative
    joined = df.join(comp, df[id_col] == comp["vertex"], "left")
    return joined.where(
        F.col("vertex").isNull() | (F.col(id_col) == F.col("component"))
    ).drop("vertex", "component")


# --------------------------------------------------------------- SimHash
def simhash_col_df(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """(id, simhash: long) — sign-aggregated token-hash fingerprint.

    Token hashing stays JVM-side (split + xxhash64 inside codegen);
    the per-bit +-1 vote sums are ONE numpy scatter-add per partition
    over the (id, hash) int pairs — the same treatment that made
    MinHash 3-4x faster than 2*bits JVM aggregate buffers per row
    (which defeats whole-stage codegen).  Bit i of the fingerprint is
    1 iff the vote sum for bit i is >= 0.
    """
    import pandas as pd

    from .approx_agg import factorize_keys

    # repartition compact base rows by id before the explode (see
    # minhash_signatures): full-parallel tokenization, no post-explode
    # shuffle — narrow ops preserve the id partitioning
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    tok = (
        df.repartition(parallelism, id_col)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("_t"),
        )
        .select("_id", F.xxhash64("_t").alias("_h"))
    )
    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("simhash", T.LongType())]
    )
    shifts = np.arange(bits, dtype=np.uint64)

    def build_simhash(batches):
        key_rows: dict = {}
        votes = np.zeros((0, bits), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            codes, uniq = factorize_keys(pdf, ["_id"])
            rows = np.empty(len(uniq), dtype=np.int64)
            for i, key in enumerate(uniq["_id"]):
                r = key_rows.get(key)
                if r is None:
                    r = len(key_rows)
                    key_rows[key] = r
                rows[i] = r
            if len(key_rows) > votes.shape[0]:
                votes = np.vstack(
                    [votes, np.zeros((len(key_rows) - votes.shape[0], bits), dtype=np.int64)]
                )
            h = pdf["_h"].to_numpy().astype(np.uint64)
            b = (((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64) * 2) - 1
            np.add.at(votes, rows[codes], b)
        if not key_rows:
            yield pd.DataFrame({out_schema[0].name: [], "simhash": []})
            return
        sign_bits = (votes >= 0).astype(np.uint64)
        packed = (sign_bits << shifts).sum(axis=1, dtype=np.uint64).view(np.int64)
        yield pd.DataFrame({out_schema[0].name: list(key_rows.keys()), "simhash": packed})

    return tok.mapInPandas(build_simhash, out_schema)


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    hot_bucket_cap: int = 1024,
) -> DataFrame:
    """Pairs within hamming distance via pigeonhole banding: split the
    64-bit simhash into ``chunks`` pieces; any pair within
    max_hamming <= chunks-1 must agree on >= one chunk exactly.
    Buckets above ``hot_bucket_cap`` link to their min-id
    representative instead of all-pairs (see ``_bucket_pairs``)."""
    if max_hamming > chunks - 1:
        raise ValueError(
            f"pigeonhole banding needs max_hamming <= chunks-1 "
            f"(got max_hamming={max_hamming}, chunks={chunks}): a pair "
            "with one differing bit per chunk would never share a bucket"
        )
    sig = simhash_col_df(df, id_col, text_col).localCheckpoint()
    width = 64 // chunks
    banded = sig.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftrightunsigned(F.col("simhash"), c * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("key"),
                )
                for c in range(chunks)
            ])
        ).alias("cc"),
    ).select("_id", "cc.chunk", "cc.key")
    pairs = _bucket_pairs(
        banded, ["chunk", "key"], hot_bucket_cap, warn_op="simhash_near_duplicates"
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_sha"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_shb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------- connected components
def _neighbourhoods(e: DataFrame) -> DataFrame:
    """Both directions of every edge, each row carrying its source's
    neighbourhood minimum and maximum (``_mn``, ``_mx``) — one window
    over the source, the aggregate both the large-star step and the
    star-forest test read."""
    sym = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    w = Window.partitionBy("s")
    return sym.select(
        "s", "d", F.min("d").over(w).alias("_mn"), F.max("d").over(w).alias("_mx")
    )


def _large_star(nb: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond") over ``_neighbourhoods`` rows: for each node
    u, every strictly-larger neighbor is re-pointed at min(N(u) + {u}).
    May repeat an edge; ``_small_star`` deduplicates."""
    return nb.where(F.col("d") > F.col("s")).select(
        F.col("d").alias("s"), F.least("s", "_mn").alias("d")
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large->small; every smaller
    neighbor (and u itself) is pointed at the minimum, taken with a
    window over the large end.  Output edges point large->small."""
    directed = e.select(
        F.greatest("s", "d").alias("s"), F.least("s", "d").alias("d")
    ).where(F.col("s") != F.col("d"))
    m = directed.withColumn("_m", F.min("d").over(Window.partitionBy("s")))
    moved = m.select(F.col("d").alias("s"), F.col("_m").alias("d"))
    selfe = m.select("s", F.col("_m").alias("d"))
    return moved.unionAll(selfe).where(F.col("s") != F.col("d")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014) — converges in O(log^2 |V|) rounds regardless
    of graph DIAMETER (plain min-label propagation moves labels one hop
    per round and silently splits chains longer than max_iter).

    Returns (vertex, component) where component = min vertex id in the
    cluster.  Stops after the first round whose output is a star
    forest: then every vertex with a smaller neighbour has exactly one
    neighbour, each component is one star around its minimum, and
    min(N(u) + {u}) labels every vertex u.  One tiny agg action per
    round tests that on the windowed neighbourhoods the next
    large-star step would read, which each round localCheckpoints to
    cut lineage (at cluster scale swap for a reliable checkpoint dir);
    the answer is a projection of the last one.  If max_iter rounds
    pass without a star forest, raises (or warns,
    ``on_nonconverged="warn"``) instead of silently returning split
    components.
    """
    # undirected and deduplicated, so each neighbour appears once per
    # source row below
    e = (
        edges.select(
            F.greatest(src, dst).alias("s"), F.least(src, dst).alias("d")
        )
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    nb = _neighbourhoods(e)
    # a vertex breaks the star shape iff it has a smaller neighbour and
    # a second, distinct neighbour
    bad = (F.col("_mn") < F.col("s")) & (F.col("_mn") != F.col("_mx"))
    for _ in range(max_iter):
        # lazy checkpoint: the star test below materializes it — the
        # upstream DAG (MinHash/LSH, earlier rounds) never re-runs
        nb = _neighbourhoods(_small_star(_large_star(nb))).localCheckpoint(eager=False)
        if nb.agg(F.count(F.when(bad, 1))).first()[0] == 0:
            break
    else:
        msg = f"connected_components did not converge in {max_iter} rounds"
        if on_nonconverged != "warn":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning)
    # one row per vertex: its largest neighbour's row (edges are
    # distinct, so that row is unique)
    return nb.where(F.col("d") == F.col("_mx")).select(
        F.col("s").alias("vertex"), F.least("s", "_mn").alias("component")
    )
