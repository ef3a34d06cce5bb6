"""Text analysis, similarity search, and multimodal plumbing tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from verdictdb_spark.operators.text import (
    fingerprint_md5_col,
    lang_id_col,
    quality_score_col,
    text_stats,
    token_count_col,
    winnowing_fingerprints,
)
from verdictdb_spark.operators.similarity import (
    ann_top_k,
    cosine_top_k,
    dedup_embeddings,
    embedding_near_duplicates,
)
from verdictdb_spark.operators.multimodal import (
    decode_images,
    extract_features,
    sample_frames,
    synthetic_media,
)


# ------------------------------------------------------------------ text
def test_token_count_and_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is big"),
            (2, "der hund und die katze ist der beste"),
            (3, "el perro de la casa que los gatos"),
            (4, ""),
            (5, "xyzzy qwerty"),
        ],
        ["id", "t"],
    )
    out = df.select(
        "id", token_count_col("t").alias("tc"), lang_id_col("t").alias("lang")
    ).toPandas().set_index("id")
    assert out.loc[1, "tc"] == 10 and out.loc[1, "lang"] == "en"
    assert out.loc[2, "lang"] == "de"
    assert out.loc[3, "lang"] == "es"
    assert out.loc[4, "tc"] == 0 and out.loc[4, "lang"] == "und"
    assert out.loc[5, "lang"] == "und"


def test_quality_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox is in the garden and it runs to the trees."),
         (2, "!!! ### $$$ %%%"),
         (3, "  Hello   WORLD  "), (4, "hello world")],
        ["id", "t"],
    )
    pdf = df.select(
        "id",
        quality_score_col("t").alias("q"),
        fingerprint_md5_col("t").alias("fp"),
    ).toPandas().set_index("id")
    assert pdf.loc[1, "q"] > pdf.loc[2, "q"]  # prose beats punctuation soup
    assert pdf.loc[3, "fp"] == pdf.loc[4, "fp"]  # normalization collapses
    assert 0 <= pdf["q"].min() and pdf["q"].max() <= 1


def test_text_stats_on_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = text_stats(docs, "text")
    row = out.first()
    assert row["token_count"] > 0 and 0 <= row["quality_score"] <= 1
    # stays JVM-side: no BatchEvalPython / ArrowEval in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "ArrowEval" not in plan


def test_winnowing_shared_substring(spark):
    base = "function compute_totals(ledger) returns the running sum of all entries"
    df = spark.createDataFrame(
        [(1, base + " alpha beta gamma"), (2, "prefix words here " + base), (3, "zz yy xx ww vv uu tt ss")],
        ["doc_id", "t"],
    )
    fps = winnowing_fingerprints(df, "doc_id", "t", k=8, window=4).toPandas().set_index("doc_id")
    s1, s2, s3 = (set(fps.loc[i, "fingerprints"]) for i in (1, 2, 3))
    assert s1 & s2  # shared long substring => shared fingerprints
    assert not (s1 & s3)


# ----------------------------------------------------------- similarity
@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_cosine_top_k_matches_numpy(spark, emb):
    pdf = emb.toPandas()
    q = list(pdf.iloc[0]["embedding"])
    got = cosine_top_k(emb, "embedding", q, k=5, id_col="vec_id").toPandas()
    m = np.vstack(pdf["embedding"].to_numpy())
    qa = np.array(q, dtype=np.float32)
    qa /= np.linalg.norm(qa)
    cos = (m @ qa) / np.linalg.norm(m, axis=1)
    top5 = pdf["vec_id"].to_numpy()[np.argsort(-cos, kind="stable")[:5]]
    assert got.iloc[0]["vec_id"] == pdf.iloc[0]["vec_id"]  # self is #1
    assert set(got["vec_id"]) == set(top5)
    np.testing.assert_allclose(np.sort(got["cosine"])[::-1], np.sort(cos)[::-1][:5], rtol=1e-5)


def test_cosine_top_k_scores_null_vector_null_and_last(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<float>")
    rows = cosine_top_k(df, "embedding", [1.0, 0.0], k=2, id_col="vec_id").collect()
    assert [(r["vec_id"], r["cosine"]) for r in rows] == [(1, pytest.approx(1.0)), (2, None)]

def test_ann_recall(spark, emb):
    pdf = emb.toPandas()
    hits = 0
    for i in (0, 7, 42):
        q = list(pdf.iloc[i]["embedding"])
        exact = set(cosine_top_k(emb, "embedding", q, 5, "vec_id").toPandas()["vec_id"])
        approx = set(ann_top_k(emb, "embedding", q, 5, planes=4, probe_bits=2, id_col="vec_id").toPandas()["vec_id"])
        hits += len(exact & approx) / 5
    # these embeddings are near-random (top-5 cosine ~0.3) — the hard
    # case for hyperplane LSH; 4 planes + 2-bit multi-probe scans ~2/3
    # of buckets for ~0.8 expected recall
    assert hits / 3 >= 0.5


def test_embedding_near_dups_and_dedup(spark, emb):
    # add exact-duplicate vectors with shifted ids
    dup = emb.withColumn("vec_id", F.col("vec_id") + 100_000)
    both = emb.unionAll(dup)
    pairs = embedding_near_duplicates(both, "vec_id", "embedding", threshold=0.9999)
    pdf = pairs.toPandas()
    found = pdf[(pdf.id_b - pdf.id_a == 100_000)]
    assert len(found) == emb.count()  # every clone found (same bucket, cos=1)
    out = dedup_embeddings(both, "vec_id", "embedding", threshold=0.9999)
    assert out.count() == emb.count()
    assert out.where(F.col("vec_id") >= 100_000).count() == 0


def test_embedding_ops_skip_null_vectors(spark):
    # one NULL vector among 20: it gets no bucket key, pairs with
    # nothing, is never probed, and dedup keeps its row
    rng = np.random.default_rng(3)
    base = rng.standard_normal((10, 8)).astype(np.float32)
    near = base[:9] + np.float32(1e-3) * rng.standard_normal((9, 8)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    rows += [(100 + i, v.tolist()) for i, v in enumerate(near)] + [(999, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = dict(threshold=0.99, planes=4, bands=4)
    pairs = embedding_near_duplicates(df, "vec_id", "embedding", **lsh).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(i, 100 + i) for i in range(9)}
    kept = dedup_embeddings(df, "vec_id", "embedding", **lsh).collect()
    assert {r["vec_id"] for r in kept} == set(range(10)) | {999}
    top = ann_top_k(df, "embedding", base[0].tolist(), 3, planes=2, probe_bits=2, id_col="vec_id")
    ids = [r["vec_id"] for r in top.collect()]
    assert ids[:2] in ([0, 100], [100, 0]) and 999 not in ids


def test_embedding_near_dups_hot_bucket(spark):
    """5k co-located (identical) vectors must route through the
    representative-star path: O(m) verified edges, no O(m^2) gram
    matrix in a single python worker."""
    from pyspark.sql import types as T

    m = 5000
    vec = [0.5, -1.0, 2.0, 0.25]
    rows = [(i, vec) for i in range(m)]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]),
    )
    pairs = embedding_near_duplicates(
        df, "vec_id", "embedding", threshold=0.9999, n_rows=m, hot_bucket_cap=100
    )
    pdf = pairs.toPandas()
    assert len(pdf) == m - 1  # star edges from vec_id 0
    assert (pdf["id_a"] == 0).all()
    assert (pdf["cosine"] >= 0.9999).all()
    out = dedup_embeddings(df, "vec_id", "embedding", threshold=0.9999, n_rows=m, hot_bucket_cap=100)
    assert out.count() == 1


def test_lsh_params_scale_with_corpus():
    from verdictdb_spark.operators.similarity import _lsh_params

    p_small, _ = _lsh_params(10_000, 0.95)
    p_big, _ = _lsh_params(10**9, 0.95)
    assert p_big > p_small  # bucket key grows with corpus
    for n in (10_000, 10**7, 10**9):
        p, b = _lsh_params(n, 0.95)
        # recall for true pairs at the threshold stays high (the bands
        # cap trades some recall for bounded cost at extreme scale)...
        theta = np.arccos(0.95)
        recall = 1 - (1 - (1 - theta / np.pi) ** p) ** b
        assert recall >= (0.85 if n <= 10**7 else 0.7), (n, p, b, recall)
        # ...while expected RANDOM candidate pairs stay linear in n
        # (random ~orthogonal pair agrees on a plane w.p. ~1/2)
        exp_random = b * (n * n / 2) * 0.5**p
        assert exp_random <= 40 * n, (n, p, b, exp_random)


# ----------------------------------------------------------- multimodal
def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, rows=60)
    imgs = decode_images(media, fake=True)
    assert imgs.count() == 20
    r = imgs.first()
    assert 16 <= r["width"] < 1040 and r["channels"] == 3

    feats = extract_features(media, dim=32, fake=True)
    pdf = feats.toPandas()
    assert len(pdf) == 60 and all(len(v) == 32 for v in pdf["features"])
    norms = [float(np.linalg.norm(v)) for v in pdf["features"]]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)
    # determinism across runs
    pdf2 = extract_features(media, dim=32, fake=True).toPandas()
    assert np.allclose(np.vstack(pdf["features"]), np.vstack(pdf2["features"]))

    frames = sample_frames(media, n_frames=4, fake=True)
    assert frames.count() == 20 * 4


def test_multimodal_real_codecs(spark):
    """Genuine BMP/WAV blobs decode through the pure-numpy codecs —
    round-trip checked against the encoder inputs."""
    from verdictdb_spark.operators.multimodal import (
        decode_audio,
        decode_bmp,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    # encoder/decoder round trip, driver-side
    px = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    w, h, c, mean = decode_bmp(encode_bmp(px))
    assert (w, h, c) == (7, 5, 3)
    assert mean == pytest.approx(float(px.mean()))
    samples = (np.sin(np.linspace(0, 20, 400)) * 10000).astype(np.int16)
    rate, n, ch, rms = decode_wav(encode_wav(samples, rate=8000))
    assert (rate, n, ch) == (8000, 400, 1)
    assert rms == pytest.approx(float(np.sqrt(np.mean(samples.astype(np.float64) ** 2))))
    ppm = b"P6\n# comment\n3 2\n255\n" + bytes(range(18))
    assert decode_ppm(ppm) == (3, 2, 3, pytest.approx(8.5))

    # distributed real decode over the synthetic table
    media = synthetic_media(spark, rows=60)
    imgs = decode_images(media, fake=False).toPandas()
    assert len(imgs) == 20
    assert ((imgs["width"] >= 4) & (imgs["width"] < 24) & (imgs["channels"] == 3)).all()
    assert ((imgs["mean_pixel"] >= 0) & (imgs["mean_pixel"] <= 255)).all()
    aud = decode_audio(media).toPandas()
    assert len(aud) == 20
    assert (aud["sample_rate"] == 8000).all() and (aud["rms"] > 0).all()

    # compressed formats still refuse honestly
    from verdictdb_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError, match="external codec"):
        decode_image(b"\x89PNG\r\n\x1a\n....")


def test_avi_roundtrip_and_real_frame_sampling(spark):
    """Uncompressed-AVI encode/decode round-trips pixel-exactly, and
    sample_frames (real path, round-4 — no more stub) emits evenly
    spaced frames that are themselves decodable BMPs."""
    from verdictdb_spark.operators.multimodal import (
        decode_avi,
        decode_bmp,
        encode_avi,
    )

    rng = np.random.default_rng(0)
    px = rng.integers(0, 256, size=(6, 5, 7, 3), dtype=np.uint8)
    w, h, frames = decode_avi(encode_avi(px))
    assert (w, h, len(frames)) == (7, 5, 6)
    assert all(np.array_equal(frames[i], px[i]) for i in range(6))

    media = synthetic_media(spark, rows=30)
    out = sample_frames(media, n_frames=3).toPandas()  # real decode
    assert len(out) > 0
    per = out.groupby("media_id").size()
    assert (per <= 3).all() and (out["frame_idx"] < out["n_total"]).all()
    for b in out["frame"].head(5):
        wf, hf, c, _ = decode_bmp(bytes(b))
        assert c == 3 and 4 <= wf < 16 and 4 <= hf < 16


def test_ivf_index_and_probe(spark, emb):
    from verdictdb_spark.operators.similarity import cosine_top_k, ivf_assign, ivf_top_k

    q = emb.where("vec_id = 0").first()["embedding"]
    indexed, cent = ivf_assign(emb, "embedding", n_centroids=16)
    # assignment is a partition of the corpus: nothing lost
    assert indexed.count() == emb.count()
    exact = set(
        cosine_top_k(emb, "embedding", q, k=10, id_col="vec_id")
        .toPandas()["vec_id"]
    )
    # probing ALL clusters reproduces the exact result
    full = set(
        ivf_top_k(indexed, cent, "embedding", q, k=10, n_probes=16, id_col="vec_id")
        .toPandas()["vec_id"]
    )
    assert full == exact
    # recall is monotone in probes and reasonable at half probes
    r = {}
    for p in (2, 8, 16):
        got = set(
            ivf_top_k(indexed, cent, "embedding", q, k=10, n_probes=p, id_col="vec_id")
            .toPandas()["vec_id"]
        )
        r[p] = len(got & exact) / len(exact)
    assert r[2] <= r[8] + 1e-9 and r[8] <= r[16] + 1e-9
    assert r[8] >= 0.3  # random vectors: the hard case; half probes keep signal


def test_lsh_bands_cap_warns():
    from verdictdb_spark.operators.similarity import _lsh_params

    with pytest.warns(RuntimeWarning, match="bands capped"):
        _lsh_params(10**9, 0.9)


def test_multimodal_resize(spark):
    from verdictdb_spark.operators.multimodal import (
        _bmp_pixels,
        decode_bmp,
        encode_bmp,
        resize_image,
        resize_images,
        synthetic_media,
    )

    # pixel-level: 2x upscale of a 2x2 image nearest-neighbors exactly
    px = np.array([[[0, 0, 0], [255, 0, 0]], [[0, 255, 0], [0, 0, 255]]], dtype=np.uint8)
    out = _bmp_pixels(resize_image(encode_bmp(px), 4, 4))
    assert out.shape == (4, 4, 3)
    assert (out[0, 0] == px[0, 0]).all() and (out[3, 3] == px[1, 1]).all()
    assert (out[0, 3] == px[0, 1]).all()

    # distributed: every image lands at the target box, decodable
    media = synthetic_media(spark, rows=30)
    res = resize_images(media, 8, 6).toPandas()
    assert len(res) == 10
    for blob in res["data"]:
        w, h, c, _ = decode_bmp(bytes(blob))
        assert (w, h, c) == (8, 6, 3)
