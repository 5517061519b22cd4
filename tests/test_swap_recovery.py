"""The snapshot store (sources/warehouse): time travel, retention, a
pointer that survives a failed write, and its single version rule. The
directory swap's crash recovery is covered through the rollup
(tests/test_round6_fixes.py::test_rollup_recovers_dangling_swap)."""

from __future__ import annotations

import os

import pytest

from neotree_data_pipeline_kedro_spark.sources.warehouse import (
    read_snapshot,
    read_snapshot_version,
    stage_snapshot,
    vacuum_snapshots,
    write_snapshot,
)


def test_write_snapshot_after_unpublished_stage(spark, tmp_path):
    base = str(tmp_path / "dim")
    assert write_snapshot(spark.range(3), base) == 0
    assert stage_snapshot(spark.range(4), base) == 1  # staged, never published
    assert read_snapshot_version(base) == 0
    assert write_snapshot(spark.range(5), base) == 2
    assert read_snapshot_version(base) == 2
    assert read_snapshot(spark, base).count() == 5
    assert read_snapshot(spark, base, version=1).count() == 4


@pytest.mark.slow
def test_snapshot_time_travel_roundtrip(spark, tmp_path):
    base = str(tmp_path / "dim")
    v0 = write_snapshot(spark.range(3).withColumnRenamed("id", "k"), base)
    v1 = write_snapshot(spark.range(5).withColumnRenamed("id", "k"), base)
    assert (v0, v1) == (0, 1)
    assert read_snapshot_version(base) == 1
    # latest resolves v1; explicit version time-travels to v0
    assert read_snapshot(spark, base).count() == 5
    assert read_snapshot(spark, base, version=0).count() == 3
    v2 = write_snapshot(spark.range(7).withColumnRenamed("id", "k"), base)
    removed = vacuum_snapshots(base, keep=2)
    assert removed == [0]
    assert read_snapshot(spark, base, version=1).count() == 5
    assert read_snapshot(spark, base).count() == 7
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, base, version=0)


@pytest.mark.slow
def test_snapshot_pointer_survives_failed_write(spark, tmp_path):
    base = str(tmp_path / "dim2")
    write_snapshot(spark.range(4).withColumnRenamed("id", "k"), base)
    # simulate a writer crashing before publication: stray dir, no flip
    os.makedirs(os.path.join(base, "v=9"), exist_ok=True)
    assert read_snapshot(spark, base).count() == 4  # still the published one
