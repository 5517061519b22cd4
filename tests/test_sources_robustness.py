"""Landing-zone robustness: stream-static broadcast enrichment and a
watermarked stream-stream join."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """The standard streaming enrichment shape: a micro-batched fact stream
    joined to a small static dim — the dim side must broadcast per batch,
    never shuffle the stream."""
    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    pdf = pd.DataFrame({"fac": ["F1", "F2", "F1", "F3"], "v": [1, 2, 3, 4]})
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src + "/b0.parquet")
    dim = spark.createDataFrame(
        [("F1", "Harare"), ("F2", "Bulawayo")], "fac string, city string"
    )
    stream = (
        spark.readStream.schema("fac string, v bigint").parquet(src + "/*")
    )
    enriched = stream.join(F.broadcast(dim), "fac", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.fac, r.v): r.city for r in spark.sql("select * from enrich_out").collect()}
    assert got == {("F1", 1): "Harare", ("F2", 2): "Bulawayo",
                   ("F1", 3): "Harare", ("F3", 4): None}


def test_stream_stream_watermarked_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + a time-range condition —
    the Structured Streaming shape of the batch range_join (state is
    bounded by the watermark on both sides)."""
    import datetime as dt

    import pandas as pd

    D = dt.datetime
    lsrc = str(tmp_path / "lsrc")
    rsrc = str(tmp_path / "rsrc")
    ckpt = str(tmp_path / "ck")
    lrows = pd.DataFrame(
        {"k": ["a", "b"], "lts": [D(2024, 1, 1, 10, 0), D(2024, 1, 1, 11, 0)]}
    )
    rrows = pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "rts": [
                D(2024, 1, 1, 10, 5),   # within 10 min of a
                D(2024, 1, 1, 12, 0),   # too late for a
                D(2024, 1, 1, 11, 7),   # within 10 min of b
            ],
        }
    )
    spark.createDataFrame(lrows).coalesce(1).write.parquet(lsrc + "/b0.parquet")
    spark.createDataFrame(rrows).coalesce(1).write.parquet(rsrc + "/b0.parquet")

    ls = (
        spark.readStream.schema("k string, lts timestamp")
        .parquet(lsrc + "/*")
        .withWatermark("lts", "1 hour")
    )
    rs = (
        spark.readStream.schema("k string, rts timestamp")
        .parquet(rsrc + "/*")
        .withWatermark("rts", "1 hour")
    )
    joined = ls.join(
        rs,
        (ls.k == rs.k)
        & (rs.rts >= ls.lts)
        & (rs.rts <= ls.lts + F.expr("INTERVAL 10 MINUTES")),
    )
    q = (
        joined.select(ls.k.alias("k"), "lts", "rts")
        .writeStream.format("memory")
        .queryName("ss_join_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.k, r.rts.minute) for r in spark.sql("select * from ss_join_out").collect()}
    assert got == {("a", 5), ("b", 7)}
