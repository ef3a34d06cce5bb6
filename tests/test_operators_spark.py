"""Spark-level operator tests: top-k, quantiles, bloom prefilter vs exact oracles."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from verdictdb_spark.operators.frequency import approx_top_k, approx_frequency
from verdictdb_spark.operators.quantile import approx_quantiles
from verdictdb_spark.operators.membership import bloom_prefilter, build_bloom, bloom_contains_col


def test_top_k_langs(spark, files_df):
    eps = 1.0 / (1 << 12)
    got = approx_top_k(files_df, "lang", k=3, eps=eps).toPandas()
    exact = (
        files_df.groupBy("lang").count().orderBy(F.desc("count")).limit(3).toPandas()
    )
    n = files_df.count()
    assert list(got["value"]) == list(exact["lang"])
    # CMS never underestimates; overestimate <= eps*N (w.h.p.)
    assert (got["est_count"].values >= exact["count"].values).all()
    assert (got["est_count"].values - exact["count"].values <= eps * n + 1).all()


def test_top_k_grouped(spark, files_df):
    got = approx_top_k(files_df, "lang", k=2, group_by=["repo"], eps=1.0 / (1 << 12))
    pdf = got.toPandas()
    assert set(pdf.columns) == {"repo", "value", "est_count"}
    # top-1 per repo must match the exact mode
    exact_top = (
        files_df.groupBy("repo", "lang").count()
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("repo").orderBy(F.desc("count"), "lang")))
        .where("rn = 1").toPandas().set_index("repo")["lang"]
    )
    got_top = pdf.sort_values("est_count", ascending=False).groupby("repo").head(1).set_index("repo")["value"]
    match = (got_top.sort_index() == exact_top.sort_index()).mean()
    assert match >= 0.95, match


def test_approx_frequency_points(spark, files_df):
    got = approx_frequency(files_df, "lang", ["python", "md"], eps=1.0 / (1 << 12)).toPandas()
    exact = files_df.groupBy("lang").count().toPandas().set_index("lang")["count"]
    n = files_df.count()
    for _, row in got.iterrows():
        assert row["est_count"] >= exact[row["item"]]
        assert row["est_count"] - exact[row["item"]] <= n / (1 << 12) + 1


def test_approx_quantiles_kll_vs_exact(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qs = [0.1, 0.5, 0.9]
    got = approx_quantiles(li, "l_extendedprice", qs, method="kll", k=256).first()["quantiles"]
    vals = np.sort(np.array(li.select("l_extendedprice").toPandas()["l_extendedprice"]))
    for q, e in zip(qs, got):
        true_rank = np.searchsorted(vals, e) / len(vals)
        assert abs(true_rank - q) <= 3 * (3.3 / 256), (q, true_rank)


def test_approx_quantiles_wide_scalar_columns(spark, sf_dir):
    """The wide shape: one scalar double column per probability, sortable
    and hashable (the array<double> shape broke result canonicalizers)."""
    from verdictdb_spark.operators.quantile import approx_quantiles_wide

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = approx_quantiles_wide(
        li, "l_quantity", [0.25, 0.49, 0.75], group_by=["l_returnflag"], method="kll", k=4096
    )
    assert out.columns == ["l_returnflag", "q25", "q49", "q75"]
    pdf = out.toPandas()
    assert pdf["q25"].dtype == np.float64  # scalar doubles, not arrays
    exact = (
        li.groupBy("l_returnflag")
        .agg(F.expr("percentile_approx(l_quantity, 0.49, 100000)").alias("m"))
        .toPandas().set_index("l_returnflag")["m"]
    )
    for _, row in pdf.iterrows():
        assert abs(row["q49"] - exact[row["l_returnflag"]]) <= 1.0
        assert row["q25"] <= row["q49"] <= row["q75"]


def test_approx_quantiles_tdigest_grouped(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = approx_quantiles(
        li, "l_quantity", [0.5], group_by=["l_returnflag"], method="tdigest", compression=100
    ).toPandas().set_index("l_returnflag")
    exact = (
        li.groupBy("l_returnflag").agg(F.expr("percentile(l_quantity, 0.5)").alias("m"))
        .toPandas().set_index("l_returnflag")["m"]
    )
    for flag, row in got.iterrows():
        assert abs(row["quantiles"][0] - exact[flag]) / max(exact[flag], 1) < 0.1


def test_bloom_prefilter_semantics(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    some_orders = orders.where("o_totalprice > 200000")
    filtered = bloom_prefilter(li, "l_orderkey", some_orders, "o_orderkey", fpr=0.01)
    # zero false negatives: every matching row survives
    true_join = li.join(some_orders, li.l_orderkey == some_orders.o_orderkey, "left_semi")
    assert filtered.join(true_join, "l_orderkey", "left_semi").count() == true_join.count()
    assert true_join.exceptAll(filtered.select(true_join.columns)).count() == 0
    # and it actually filters
    assert filtered.count() < li.count()


def test_bloom_contains_col(spark, files_df):
    langs = files_df.select("lang").distinct()
    sk, state = build_bloom(langs, "lang", capacity=1024, fpr=0.01)
    probe = files_df.limit(100).withColumn("hit", bloom_contains_col(sk, state, "lang"))
    assert probe.where(~F.col("hit")).count() == 0


def test_top_k_keeps_null_key_group(spark, files_df):
    """A NULL group key is a group for top-k as for HLL and KLL."""
    from verdictdb_spark.operators.distinct import approx_count_distinct_by

    nulls = files_df.withColumn(
        "repo",
        F.when(F.col("repo").isin("org1/repo1", "org2/repo2"), None).otherwise(F.col("repo")),
    )
    got = approx_top_k(nulls, "lang", k=2, group_by=["repo"]).toPandas()
    hll = approx_count_distinct_by(nulls, "content", ["repo"]).toPandas()
    assert hll["repo"].isna().any()
    assert set(got["repo"].fillna("<null>")) == set(hll["repo"].fillna("<null>"))
    exact = (
        nulls.where(F.col("repo").isNull()).groupBy("lang").count()
        .orderBy(F.desc("count"), "lang").limit(1).toPandas()
    )
    top = got[got["repo"].isna()].sort_values("est_count", ascending=False)
    assert top["value"].iloc[0] == exact["lang"].iloc[0]


def test_top_k_multi_round_merge_matches_single_round(spark, files_df):
    """Top-k states merged through extra tree rounds (fan-in 2 over 8
    partials) give the rows of a single-round merge."""
    from verdictdb_spark.operators.frequency import (
        CmsCandidates,
        _fused_partials,
        _top_k_finisher,
    )
    from verdictdb_spark.operators.approx_agg import tree_merge
    from verdictdb_spark.sketches.cms import CmsSketch

    sk = CmsSketch(eps=1.0 / (1 << 12))
    partials = _fused_partials(files_df, "lang", ["repo"], sk, per_part=2).localCheckpoint()
    assert partials.select("part_id").distinct().count() > 2
    finish = _top_k_finisher(sk, 2, "value", "est_count")

    def rows(df):
        return sorted(map(tuple, df.toPandas().values.tolist()))

    one = rows(tree_merge(partials, CmsCandidates(sk), ["repo"], finish=finish))
    many = rows(
        tree_merge(partials, CmsCandidates(sk), ["repo"], fanin=2, n_partials_hint=8, finish=finish)
    )
    assert many == one
    assert rows(approx_top_k(files_df, "lang", k=2, group_by=["repo"], eps=1.0 / (1 << 12))) == one
