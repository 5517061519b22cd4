"""Crash recovery of the directory swap every table replacement goes
through (sources/warehouse._publish_swap), and the snapshot store's single
version rule. A crash between the swap's two renames leaves the old
sibling but no live directory; the next replacement must restore it and
lose no rows."""

from __future__ import annotations

import os

from neotree_data_pipeline_kedro_spark.sources.warehouse import (
    compact_parquet,
    read_snapshot,
    read_snapshot_version,
    stage_snapshot,
    write_snapshot,
)


def test_compaction_recovers_dangling_swap(spark, tmp_path):
    wh = str(tmp_path / "wh")
    live = os.path.join(wh, "users")
    rows = [(i, f"u{i}") for i in range(20)]
    spark.createDataFrame(rows, "uid int, name string").repartition(4).write.parquet(live)

    # simulate the mid-swap crash + a stale tmp leftover
    os.rename(live, live + ".__rollup_old")
    os.makedirs(live + ".__rollup_tmp")
    compact_parquet(spark, live, target_file_mb=1)

    got = sorted(tuple(r) for r in spark.read.parquet(live).collect())
    assert got == rows
    assert sorted(os.listdir(wh)) == ["users"]


def test_write_snapshot_after_unpublished_stage(spark, tmp_path):
    base = str(tmp_path / "dim")
    assert write_snapshot(spark.range(3), base) == 0
    assert stage_snapshot(spark.range(4), base) == 1  # staged, never published
    assert read_snapshot_version(base) == 0
    assert write_snapshot(spark.range(5), base) == 2
    assert read_snapshot_version(base) == 2
    assert read_snapshot(spark, base).count() == 5
    assert read_snapshot(spark, base, version=1).count() == 4
