"""§2.9 incremental/streaming sinks: NOT-EXISTS batch increments
(assorted_queries.py:241-252) and the foreachBatch rollup over a file
stream."""

from __future__ import annotations

from neotree_data_pipeline_kedro_spark.streaming.incremental import incremental_sink


def test_incremental_sink_appends_only_new_keys(spark, tmp_path):
    sink = str(tmp_path / "sink")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    assert incremental_sink(spark, b1, sink, ["id"]) == 2
    # second batch: one dup key, one fresh
    b2 = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    assert incremental_sink(spark, b2, sink, ["id"]) == 1
    rows = {r.id: r.v for r in spark.read.parquet(sink).collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}  # first write wins (NOT EXISTS)
    # idempotent re-run: nothing appended
    assert incremental_sink(spark, b2, sink, ["id"]) == 0


def test_foreach_batch_rollup_equals_full_recompute(spark, tmp_path):
    """Streaming materialized view: after draining N micro-batches the
    stored rollup equals a batch recompute over all data, and a second
    run with a new file touches only the delta."""
    import os
    import time

    import pandas as pd
    from pyspark.sql import types as T

    from neotree_data_pipeline_kedro_spark.streaming.incremental import (
        run_foreach_batch_rollup,
    )

    schema = T.StructType(
        [T.StructField("g", T.StringType()), T.StructField("v", T.LongType())]
    )
    src = tmp_path / "src"
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    batches = [
        [("a", 1), ("a", 2), ("b", 10)],
        [("a", 4), ("c", 7)],
        [("b", 5), ("c", 1)],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["g", "v"])
        p = str(src / f"b{i}.parquet")
        spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(p)
        mtime = time.time() - 100 + i * 10
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    measures = {"v": "sum"}
    run_foreach_batch_rollup(
        spark, str(src) + "/*", schema, rollup, ckpt, ["g"], measures
    )
    got = {r.g: r.sum_v for r in spark.read.parquet(rollup).collect()}
    assert got == {"a": 7, "b": 15, "c": 8}

    # a late file lands; the restarted query merges ONLY the delta
    pdf = pd.DataFrame([("a", 100), ("d", 1)], columns=["g", "v"])
    spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(
        str(src / "b3.parquet")
    )
    run_foreach_batch_rollup(
        spark, str(src) + "/*", schema, rollup, ckpt, ["g"], measures
    )
    got = {r.g: r.sum_v for r in spark.read.parquet(rollup).collect()}
    assert got == {"a": 107, "b": 15, "c": 8, "d": 1}
