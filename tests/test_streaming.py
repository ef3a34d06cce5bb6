"""Streaming surface: progressive result stream + incremental sketch sink."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from verdictdb_spark.sampling import AggSpec, create_scramble, progressive_agg
from verdictdb_spark.streaming import (
    ResultStream,
    incremental_sketch_sink,
    read_sketch_state,
)
from verdictdb_spark.sketches.hll import HllSketch
from verdictdb_spark.operators.approx_agg import finalize


def test_result_stream_each_and_converged(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sdf, meta = create_scramble(li, nblocks=10, seed=3)
    aggs = [AggSpec("avg", "l_quantity", "aq")]
    seen = []
    stream = ResultStream(
        progressive_agg(sdf, meta, aggs, [], schedule="linear"), [], ["aq"]
    )
    final = stream.each(lambda r: seen.append(r.coverage))
    assert final.is_exact and len(seen) == 10
    assert seen == sorted(seen)

    stream2 = ResultStream(
        progressive_agg(sdf, meta, aggs, [], schedule="linear"), [], ["aq"]
    )
    res = stream2.until_converged()
    assert res.blocks_covered <= 10
    exact = li.agg(F.avg("l_quantity")).first()[0]
    assert abs(res.estimates["aq"].iloc[0] - exact) / exact < 0.05


def test_until_converged_keeps_spark_snapshots_distributed(spark, sf_dir):
    """The stop rule compares Spark-engine snapshots Spark-side: no
    snapshot's estimate frame is pulled to the driver."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sdf, meta = create_scramble(li, nblocks=10, seed=3)
    aggs = [AggSpec("avg", "l_quantity", "aq"), AggSpec("count", None, "c")]
    stream = ResultStream(
        progressive_agg(
            sdf, meta, aggs, ["l_returnflag"], schedule="linear", engine="spark"
        ),
        ["l_returnflag"],
        ["aq", "c"],
    )
    res = stream.until_converged()
    assert len(stream.history) >= 2 and res is stream.history[-1]
    assert all(
        r.estimates_sdf is not None and r._pdf is None for r in stream.history
    )


def test_result_stream_of_nothing_raises_value_error():
    # an empty source is an error on both consumers, and not an assert
    # that ``python -O`` strips
    with pytest.raises(ValueError, match="empty stream"):
        ResultStream(iter([]), [], ["aq"]).each(lambda r: None)
    with pytest.raises(ValueError, match="empty stream"):
        ResultStream(iter([]), [], ["aq"]).until_converged()

def test_incremental_sketch_sink(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    sk = HllSketch(p=12)

    # chunk 1 arrives
    docs.where("doc_id % 2 = 0").write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = incremental_sketch_sink(stream, sk, "text", ["lang"], state, trigger_once=True)
    q.awaitTermination(120)

    est1 = (
        finalize(read_sketch_state(spark, state), sk, "ndv", "double")
        .toPandas().set_index("lang")["ndv"]
    )
    assert len(est1) > 0

    # chunk 2 arrives; restart (same checkpoint) — only new files processed
    docs.where("doc_id % 2 = 1").write.mode("append").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = incremental_sketch_sink(stream, sk, "text", ["lang"], state, trigger_once=True)
    q.awaitTermination(120)

    est2 = (
        finalize(read_sketch_state(spark, state), sk, "ndv", "double")
        .toPandas().set_index("lang")["ndv"].sort_index()
    )
    # incremental result == one-shot batch build over everything
    from verdictdb_spark.operators.distinct import approx_count_distinct_by

    batch = (
        approx_count_distinct_by(docs, "text", ["lang"], p=12)
        .toPandas().set_index("lang")["approx_ndv"].sort_index()
    )
    assert np.allclose(est2.values, batch.values)
    assert (est2 >= est1.sort_index()).all()  # monotone under inserts


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer: gap-closure within a batch,
    event-time-timeout eviction once the watermark passes, open
    sessions withheld (append mode)."""
    import pandas as pd

    from verdictdb_spark.streaming import sessionize_stream

    src = str(tmp_path / "events_src")
    chk = str(tmp_path / "chk")
    rows = [
        (1, "2024-01-01 10:00:00", 1, 1.0),
        (2, "2024-01-01 10:10:00", 1, 2.0),
        (3, "2024-01-01 11:30:00", 1, 4.0),  # 80-min gap -> new session
        (4, "2024-01-01 10:05:00", 2, 8.0),
        (5, "2024-01-02 00:00:00", 3, 0.5),  # watermark pusher; stays open
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sess = sessionize_stream(stream, gap_minutes=30, watermark="0 seconds")
    q = (
        sess.writeStream.format("memory").queryName("sess_out")
        .outputMode("append").option("checkpointLocation", chk)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    out = (
        spark.sql("select * from sess_out order by user_id, session_start")
        .toPandas()
    )
    assert [tuple(r) for r in out[["user_id", "n_events"]].to_numpy()] == [
        (1, 2), (1, 1), (2, 1)
    ]
    assert out["sum_value"].tolist() == [3.0, 4.0, 8.0]
    assert str(out["session_end"].iloc[0]) == "2024-01-01 10:10:00"
    # user 3's session is still open: not emitted in append mode
    assert 3 not in set(out["user_id"])
