"""Z-order contracts: the Spark Morton code matches the pure-Python twin
bit-for-bit and interleaves known values as specified."""

from __future__ import annotations

from pyspark.sql import functions as F

from neotree_data_pipeline_kedro_spark.functions.zorder import (
    INPUT_MASK,
    morton2,
    morton2_py,
)


def test_morton2_matches_python_twin(spark):
    rows = [(0, 0), (1, 0), (0, 1), (1, 1), (2**31 - 1, 2**31 - 1),
            (12345, 67890), (2**31 + 7, 5)]  # over-wide x gets clamped
    df = spark.createDataFrame(rows, "x long, y long").select(
        "x", "y", morton2(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        assert r.z == morton2_py(r.x, r.y), (r.x, r.y)
        assert r.z >= 0  # sign bit never set -> ORDER BY is safe


def test_morton2_known_values(spark):
    # interleave(x=0b11, y=0b01) = y1 x1 y0 x0 = 0b0111 = 7
    df = spark.createDataFrame([(3, 1)], "x long, y long").select(
        morton2(F.col("x"), F.col("y")).alias("z")
    )
    assert df.collect()[0].z == 0b0111
    assert morton2_py(2**31 - 1, 2**31 - 1) == 2**62 - 1  # full 62 bits
    assert morton2_py((2**31 - 1) | 2**40, 0) == morton2_py(INPUT_MASK, 0)

