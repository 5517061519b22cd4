"""Co-located join contract: two tables bucketed on the join key plan a
MERGE join with ZERO exchanges (sources/warehouse.py)."""

from __future__ import annotations

import contextlib
import io

import pytest

# r13 (VERDICT r12 #2): heavyweight integration tail — excluded from the
# default driver-window run; executed by the builder via `-m slow`.
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from neotree_data_pipeline_kedro_spark.sources.warehouse import (
    read_table,
    write_bucketed,
)


@pytest.fixture(scope="module")
def bucketed(spark):
    adm = spark.range(0, 5000).select(
        F.col("id").alias("uid"),
        (F.col("id") % 97).alias("facility"),
        F.lit("adm").alias("kind"),
    )
    dis = spark.range(0, 5000, 3).select(
        F.col("id").alias("uid"),
        F.lit("dis").alias("kind"),
        (F.col("id") * 2).alias("score"),
    )
    write_bucketed(adm, "t_adm_bucketed", ["uid"], buckets=8, sort_by=["uid"])
    write_bucketed(dis, "t_dis_bucketed", ["uid"], buckets=8, sort_by=["uid"])
    yield read_table(spark, "t_adm_bucketed"), read_table(spark, "t_dis_bucketed")
    spark.sql("DROP TABLE IF EXISTS t_adm_bucketed")
    spark.sql("DROP TABLE IF EXISTS t_dis_bucketed")


def test_cobucketed_join_has_no_exchange(spark, bucketed):
    adm, dis = bucketed
    joined = adm.hint("MERGE").join(dis, "uid")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join should read co-located buckets"
    assert "Bucketed: true" in plan


def test_cobucketed_join_is_correct(spark, bucketed):
    adm, dis = bucketed
    got = adm.hint("MERGE").join(dis, "uid").count()
    assert got == len(range(0, 5000, 3))


def test_cli_bucketed_warehouse(spark):
    from neotree_data_pipeline_kedro_spark.__main__ import main

    counts = main(
        argv=["--sf-dir", "/root/testdata/sf0.001", "--bucket-uid-tables", "4"],
        spark=spark,
    )
    assert counts["merged_all"] > 0
    try:
        desc = spark.sql("DESCRIBE TABLE EXTENDED wh_merged_all").collect()
        info = {r.col_name: r.data_type for r in desc}
        assert info.get("Num Buckets") == "4"
        assert "uid" in info.get("Bucket Columns", "")
        # the payoff contract: the engine's read-back stage tables are
        # co-bucketed on uid, so a downstream uid join (exactly what
        # reconcile / a consumer's ALL-table probe does) plans as a merge
        # join with ZERO exchanges — the B-tree-index analogue at 100 TB
        adm = read_table(spark, "wh_admissions_fixed")
        dis = read_table(spark, "wh_discharges_fixed")
        joined = adm.hint("MERGE").join(dis.select("uid"), "uid")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "engine stage tables must be co-bucketed"
        assert joined.count() > 0
    finally:
        for t in ("wh_deduplicated", "wh_admissions_fixed",
                  "wh_discharges_fixed", "wh_merged_all"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_out_plus_bucketing_writes_both(spark, tmp_path):
    """--out promises a parquet copy per stage even when --bucket-uid-tables
    routes the uid stages through managed bucketed tables (the flag's help
    says 'also save', so the parquet copy must not be silently skipped)."""
    from neotree_data_pipeline_kedro_spark.__main__ import main

    out = str(tmp_path / "wh")
    try:
        counts = main(
            argv=["--sf-dir", "/root/testdata/sf0.001", "--out", out,
                  "--bucket-uid-tables", "2"],
            spark=spark,
        )
        for stage in ("deduplicated", "merged_all"):
            back = spark.read.parquet(f"{out}/{stage}")
            assert back.count() == counts[stage]
    finally:
        for t in ("wh_deduplicated", "wh_admissions_fixed",
                  "wh_discharges_fixed", "wh_merged_all"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_single_bucketed_side_still_prunes_one_exchange(spark, bucketed):
    adm, _ = bucketed
    plain = spark.range(0, 5000, 5).select(F.col("id").alias("uid"))
    joined = adm.hint("MERGE").join(plain, "uid")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    # only the non-bucketed side shuffles
    import re

    assert len(re.findall(r"\bExchange\b", plan)) // 2 == 1


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    from neotree_data_pipeline_kedro_spark.sources.warehouse import compact_parquet

    path = str(tmp_path / "landing")
    df = spark.range(0, 10_000).withColumn("k", F.col("id") % 7)
    df.repartition(40).write.parquet(path)  # 40 tiny files

    import glob as g

    before = len(g.glob(path + "/*.parquet"))
    assert before >= 40
    n = compact_parquet(spark, path, target_file_mb=128, sort_within_by=["k"])
    after = len(g.glob(path + "/*.parquet"))
    assert after == n == 1  # tiny data -> one target-size file
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).collect()[0][0] == 10_000 * 9_999 // 2


# ---------------------------------------------------------------- snapshots
def test_snapshot_time_travel_roundtrip(spark, tmp_path):
    from neotree_data_pipeline_kedro_spark.sources.warehouse import (
        read_snapshot,
        read_snapshot_version,
        vacuum_snapshots,
        write_snapshot,
    )

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
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, base, version=0)


def test_snapshot_pointer_survives_failed_write(spark, tmp_path):
    from neotree_data_pipeline_kedro_spark.sources.warehouse import (
        read_snapshot,
        write_snapshot,
    )

    base = str(tmp_path / "dim2")
    write_snapshot(spark.range(4).withColumnRenamed("id", "k"), base)
    # simulate a writer crashing before publication: stray dir, no flip
    import os

    os.makedirs(os.path.join(base, "v=9"), exist_ok=True)
    assert read_snapshot(spark, base).count() == 4  # still the published one
