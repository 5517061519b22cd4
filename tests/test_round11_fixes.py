"""Round-11 ADVICE fix pins (see ADVICE.md r10).

- topk_join's how='left' NULL-score sentinel is ENFORCED even when the
  caller's score() is coalesce/literal-bearing (previously only rank 1
  and NULL right columns were guaranteed).
- interval_overlap_join accepts column names containing backticks (the
  f-string SQL fragment now escapes them).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_topk_join_sentinel_survives_coalesce_score(spark):
    from neotree_data_pipeline_kedro_spark.operators.joins import topk_join

    left = spark.createDataFrame([(1, "a"), (2, "zz")], "lk bigint, blk string")
    right = spark.createDataFrame([("a", 10.0)], "blk string, sc double")
    out = topk_join(
        left,
        right,
        ["blk"],
        # adversarial score: non-NULL even over NULL right columns
        lambda df: F.coalesce(F.col("sc"), F.lit(-1.0)),
        [F.col("sc")],
        k=1,
        how="left",
        score_col="s",
    ).toPandas()
    unmatched = out[out["lk"] == 2]
    assert len(unmatched) == 1
    assert unmatched["s"].isna().all(), (
        "documented NULL-score sentinel must hold for coalesce scores"
    )
    matched = out[out["lk"] == 1]
    assert matched["s"].iloc[0] == 10.0


def test_interval_overlap_join_backtick_column_names(spark):
    from neotree_data_pipeline_kedro_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [(1, 0, 100)], "k bigint, `s``tart` bigint, `e``nd` bigint"
    )
    right = spark.createDataFrame(
        [(1, 50, 150)], "k bigint, rs bigint, re bigint"
    )
    out = interval_overlap_join(
        left, right, ["k"], "s`tart", "e`nd", "rs", "re", bucket_us=64
    ).toPandas()
    assert len(out) == 1
    assert int(out["overlap_us"].iloc[0]) == 50
