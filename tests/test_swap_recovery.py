"""Crash recovery of the directory swap every table replacement goes
through (sources/warehouse._publish_swap), and the snapshot store's single
version rule. A crash between the swap's two renames leaves the old
sibling but no live directory; the next replacement must restore it and
lose no rows."""

from __future__ import annotations

import os

import pytest

from neotree_data_pipeline_kedro_spark.operators.sinks import cascade_delete_keys
from neotree_data_pipeline_kedro_spark.sources.warehouse import (
    compact_parquet,
    read_snapshot,
    read_snapshot_version,
    stage_snapshot,
    write_snapshot,
)


def _compact(spark, wh, table):
    compact_parquet(spark, os.path.join(wh, table), target_file_mb=1)


def _purge_listed(spark, wh, table):
    # the warehouse listing must name the recovered table, not its sibling
    doomed = spark.createDataFrame([(99,)], "uid int")  # absent key
    assert cascade_delete_keys(spark, wh, doomed, "uid") == {table: 0}


def _purge_named(spark, wh, table):
    doomed = spark.createDataFrame([(99,)], "uid int")
    assert cascade_delete_keys(spark, wh, doomed, "uid", [table]) == {table: 0}


@pytest.mark.parametrize(
    "replace", [_compact, _purge_listed, _purge_named],
    ids=["compact_parquet", "cascade_delete_keys", "cascade_delete_keys_named"],
)
def test_replace_recovers_dangling_swap(spark, tmp_path, replace):
    wh = str(tmp_path / "wh")
    live = os.path.join(wh, "users")
    rows = [(i, f"u{i}") for i in range(20)]
    spark.createDataFrame(rows, "uid int, name string").repartition(4).write.parquet(live)

    # simulate the mid-swap crash + a stale tmp leftover
    os.rename(live, live + ".__rollup_old")
    os.makedirs(live + ".__rollup_tmp")
    replace(spark, wh, "users")

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
