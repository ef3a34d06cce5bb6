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
* every banded operator (MinHash-LSH, SimHash, the embedding near-dups
  in ``similarity.py``) runs one pipeline, ``_banded_pairs``: band keys
  -> (band, key) buckets -> ``_bucket_pairs`` -> both sides' payload
  joined back -> pair score and filter.  An operator supplies only its
  keys and its score; one keep step (``_keep_representatives``) turns
  pairs into the kept rows;
* MinHash and SimHash share one per-doc build (``_doc_hash_build``):
  JVM token hashes, one numpy scatter per Arrow batch;
* clustering labels an edge set under Spark's broadcast threshold on
  the driver; a larger one runs alternating large-star/small-star
  connected components (Kiveris et al. 2014) with localCheckpoint per
  round to cut lineage, converging in O(log^2 |V|) rounds independent
  of graph diameter.

ANSI-mode safe: no wrap-around arithmetic in JVM expressions — hash
families come from xxhash64(h, j) re-hashing instead of overflow
multiplies.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

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
    """Array of n-gram shingles, computed fully JVM-side.

    Each row's units (its words, or its lower-cased text in char mode)
    are computed once and bound to a lambda variable: written inline,
    the split would re-run for every shingle the inner ``transform``
    builds, quadratic in words per document."""
    t = F.col(text) if isinstance(text, str) else text
    if mode == "word":
        units, size = F.split(F.lower(F.trim(t)), r"\s+"), F.size

        def piece(w: Column, i: Column) -> Column:
            return F.concat_ws(" ", F.slice(w, i, n))
    elif mode == "char":
        units, size = F.lower(t), F.length

        def piece(w: Column, i: Column) -> Column:
            return w.substr(i, F.lit(n))
    else:
        raise ValueError(f"unknown shingle mode {mode!r}")
    return F.element_at(
        F.transform(F.array(units), lambda w: F.transform(
            F.sequence(F.lit(1), F.greatest(size(w) - F.lit(n - 1), F.lit(1))),
            lambda i: piece(w, i),
        )),
        1,
    )


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
    from ..hashing import _odd_multipliers

    k = num_hashes
    a_mults = _odd_multipliers(k, 0x31415926)

    def scatter_min(sig: np.ndarray, rows: np.ndarray, h: np.ndarray) -> None:
        flat = sig.reshape(-1)
        with np.errstate(over="ignore"):
            for j in range(k):
                np.minimum.at(flat, rows * k + j, h * a_mults[j])

    return _doc_hash_build(
        df, id_col, shingles_col(text_col, shingle, mode),
        T.StructField("sig", T.ArrayType(T.LongType())),
        acc=((k,), np.uint64, np.iinfo(np.uint64).max),
        scatter=scatter_min,
        # wraps to signed — fine, deterministic
        finish=lambda sig: [r.tolist() for r in sig.astype(np.int64)],
    )


def _doc_hash_build(
    df: DataFrame,
    id_col: str,
    tokens: Column,
    out: T.StructField,
    acc: tuple,
    scatter: Callable[[np.ndarray, np.ndarray, np.ndarray], None],
    finish: Callable[[np.ndarray], Any],
) -> DataFrame:
    """(id, ``out``) per doc from the ``xxhash64`` of each of its
    ``tokens`` (an array Column): the hashing stays JVM-side, then ONE
    numpy pass per partition — ``scatter(matrix, rows, hashes)`` folds
    each Arrow batch into the docs' rows of a ``GroupRows`` matrix
    (``acc`` = (row shape, dtype, fill)) and ``finish(matrix)`` turns
    it into the ``out`` values.

    The COMPACT base rows are repartitioned by id BEFORE the explode:
    the token/hash work then runs at full parallelism even when the
    source has few files, and — because explode/select are narrow —
    every doc's tokens already share a partition, so no second shuffle
    of the (much larger) exploded pairs is needed."""
    import pandas as pd

    from .approx_agg import GroupRows

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    hashed = (
        df.repartition(parallelism, id_col)
        .select(F.col(id_col).alias("_id"), F.explode(tokens).alias("_t"))
        .select("_id", F.xxhash64("_t").alias("_h"))
    )
    schema = T.StructType([df.schema[id_col], out])

    def build(batches):
        docs = GroupRows(["_id"], acc=acc)
        for pdf in batches:
            if len(pdf):
                rows = docs.rows(pdf)
                scatter(docs.arrays["acc"], rows, pdf["_h"].to_numpy().astype(np.uint64))
        ids = [key for key, in docs.index]
        yield pd.DataFrame({schema[0].name: ids, out.name: finish(docs.arrays["acc"])})

    return hashed.mapInPandas(build, schema)


def _plan_is(df: DataFrame, node: str) -> bool:
    """True when ``df``'s analyzed plan is one ``node``: "LogicalRDD" for
    an already materialized RDD scan (e.g. a prior ``localCheckpoint`` —
    callers that pass a shared signature fixture should not pay a second
    copy of it), "LocalRelation" for a frame built from driver data."""
    try:
        return df._jdf.queryExecution().analyzed().getClass().getSimpleName() == node
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


def _banded_pairs(
    sig: DataFrame,
    id_col: str,
    keys: Column,
    payload: str,
    score: Callable[[Column, Column], Column],
    keep: Column | None,
    hot_bucket_cap: int,
    warn_op: str | None,
) -> DataFrame:
    """The candidate-pair pipeline every banded operator runs.

    ``keys`` (array<long>: one bucket key per band, NULL for a row that
    joins no bucket) is added to the signature frame ``sig``, which is
    then localCheckpointed unless already materialized: banding and
    both payload joins read it.  The keys posexplode into (band, key)
    buckets, ``_bucket_pairs`` pairs the ids, each pair gets both
    sides' ``payload`` back and is scored by ``score(a, b)`` (an
    aliased Column), and pairs failing ``keep`` drop.  Returns
    (id_a, id_b, score)."""
    keyed = sig.withColumn("_keys", keys)
    if not _plan_is(sig, "LogicalRDD"):
        keyed = keyed.localCheckpoint()
    banded = keyed.select(F.col(id_col).alias("_id"), F.posexplode("_keys").alias("band", "key"))
    pairs = _bucket_pairs(banded, ["band", "key"], hot_bucket_cap, warn_op)
    out = _join_sides(pairs, keyed, id_col, payload)
    out = out.select("id_a", "id_b", score(F.col("_pa"), F.col("_pb")))
    return out if keep is None else out.where(keep)


def _join_sides(pairs: DataFrame, frame: DataFrame, id_col: str, payload: str) -> DataFrame:
    """``pairs`` (id_a, id_b, ...) plus each side's ``payload`` from
    ``frame``, as ``_pa`` and ``_pb``."""

    def side(s: str) -> DataFrame:
        return frame.select(F.col(id_col).alias(f"id_{s}"), F.col(payload).alias(f"_p{s}"))

    return pairs.join(side("a"), "id_a").join(side("b"), "id_b")


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
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    r = num_hashes // bands

    def est_jaccard(a: Column, b: Column) -> Column:
        agree = F.aggregate(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")), F.lit(0), lambda acc, v: acc + v
        )
        return (agree.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard")

    # only the band hashes go through the bucketing shuffles: the 1KB
    # signature arrays would otherwise be replicated x bands
    return _banded_pairs(
        sig_df, id_col,
        keys=F.array(*[F.xxhash64(F.slice("sig", b * r + 1, r)) for b in range(bands)]),
        payload="sig",
        score=est_jaccard,
        keep=F.col("est_jaccard") >= min_est_jaccard if min_est_jaccard > 0 else None,
        hot_bucket_cap=hot_bucket_cap,
        warn_op="lsh_candidate_pairs" if warn_hot_buckets else None,
    )


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
    sets = df.select(id_col, F.array_distinct(shingles_col(text_col, shingle, mode)).alias("_set"))
    j = _join_sides(pairs, sets, id_col, "_set")
    inter = F.size(F.array_intersect("_pa", "_pb")).cast("double")
    union = F.size(F.array_union("_pa", "_pb")).cast("double")
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
    return _keep_representatives(df, id_col, pairs)


def _keep_representatives(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """``df`` minus every row whose id is in a cluster of ``pairs``
    (id_a, id_b) but is not that cluster's min-id representative."""
    comp = connected_components(pairs, "id_a", "id_b")
    if _plan_is(comp, "LocalRelation"):
        # labelled on the driver, so small: ship it to every partition
        # of ``df`` instead of shuffling ``df`` to meet it
        comp = F.broadcast(comp)
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
    shifts = np.arange(bits, dtype=np.uint64)

    def scatter_votes(votes: np.ndarray, rows: np.ndarray, h: np.ndarray) -> None:
        b = (((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64) * 2) - 1
        np.add.at(votes, rows, b)

    def pack(votes: np.ndarray) -> np.ndarray:
        sign_bits = (votes >= 0).astype(np.uint64)
        return (sign_bits << shifts).sum(axis=1, dtype=np.uint64).view(np.int64)

    return _doc_hash_build(
        df, id_col, F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        T.StructField("simhash", T.LongType()),
        acc=((bits,), np.int64, 0),
        scatter=scatter_votes,
        finish=pack,
    )


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
    width = 64 // chunks
    return _banded_pairs(
        simhash_col_df(df, id_col, text_col), id_col,
        keys=F.array(*[
            F.shiftrightunsigned("simhash", c * width).bitwiseAND(F.lit((1 << width) - 1))
            for c in range(chunks)
        ]),
        payload="simhash",
        score=lambda a, b: F.bit_count(a.bitwiseXOR(b)).alias("hamming"),
        keep=F.col("hamming") <= max_hamming,
        hot_bucket_cap=hot_bucket_cap,
        warn_op="simhash_near_duplicates",
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
    """Connected components: (vertex, component) where component = min
    vertex id in the cluster, typed as the edge columns.

    An edge set that fits under Spark's own broadcast threshold
    (``spark.sql.autoBroadcastJoinThreshold`` bytes at 16 bytes an
    edge), with ids that are not floats, is labelled on the driver
    (``_label_components``): the oriented, deduplicated edges are
    localCheckpointed once and one limited collect tells the two cases
    apart.  A threshold of -1 ("never broadcast") pins the distributed
    path below.

    Larger edge sets run alternating large-star / small-star rounds
    (Kiveris et al. 2014) — converges in O(log^2 |V|) rounds regardless
    of graph DIAMETER (plain min-label propagation moves labels one hop
    per round and silently splits chains longer than max_iter).  Stops
    after the first round whose output is a star forest: then every
    vertex with a smaller neighbour has exactly one neighbour, each
    component is one star around its minimum, and min(N(u) + {u})
    labels every vertex u.  One tiny agg action per round tests that on
    the windowed neighbourhoods the next large-star step would read,
    which each round localCheckpoints to cut lineage (at cluster scale
    swap for a reliable checkpoint dir); the answer is a projection of
    the last one.  If max_iter rounds pass without a star forest,
    raises (or warns, ``on_nonconverged="warn"``) instead of silently
    returning split components.
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
    spark = edges.sparkSession
    cap = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold() // 16
    t = e.schema["s"].dataType
    # float ids stay in Spark: pandas would turn a NaN id into NULL
    if cap > 0 and not isinstance(t, (T.FloatType, T.DoubleType)):
        # lazy checkpoint: the limited collect below materializes it, so
        # the star rounds of an over-cap edge set never re-run the
        # upstream DAG (MinHash/LSH)
        e = e.localCheckpoint(eager=False)
        head = e.limit(cap + 1).toPandas()
        if len(head) <= cap:
            comp = _label_components(head["s"].to_numpy(), head["d"].to_numpy())
            return spark.createDataFrame(
                comp, T.StructType([T.StructField("vertex", t), T.StructField("component", t)])
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


def _label_components(s: np.ndarray, d: np.ndarray):
    """(vertex, component) as a pandas frame for the edges ``s[i]-d[i]``:
    min-label hooking with pointer jumping on the driver.  Vertices are
    ranked by id, so a rank's root (the smallest rank it reaches) is
    its component's min id.  Each round hooks every root that an edge
    joins to a smaller root onto the smallest such root, then jumps
    every pointer straight to its root; parents only ever decrease, so
    no cycle forms, and a round that finds no edge between two roots
    ends it."""
    import pandas as pd

    vertex, rank = np.unique(np.concatenate([s, d]), return_inverse=True)
    a, b = rank[: len(s)], rank[len(s):]
    parent = np.arange(len(vertex))
    while True:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            break
        np.minimum.at(parent, np.maximum(ra, rb)[split], np.minimum(ra, rb)[split])
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    return pd.DataFrame({"vertex": vertex, "component": vertex[parent]})
