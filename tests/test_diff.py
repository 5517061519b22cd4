"""Operator-level contracts for table_diff and fk_orphans — the null
semantics the registry fixture (no nulls in orders) can't exercise."""

from __future__ import annotations

from neotree_data_pipeline_kedro_spark.operators.diff import table_diff
from neotree_data_pipeline_kedro_spark.operators.validation import fk_orphans


def test_table_diff_classifies_and_lists_columns(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged -> dropped
         (2, "B", 25.0),        # both columns changed
         (4, None, 40.0),       # NULL == NULL -> unchanged, dropped
         (5, "e", 50.0)],       # added
        "k int, s string, v double",
    )
    out = {r.k: r for r in table_diff(old, new, ["k"]).collect()}
    assert set(out) == {2, 3, 5}
    assert out[2].change_type == "changed"
    assert out[2].changed_columns == "s,v"
    assert out[3].change_type == "removed" and out[3].changed_columns == ""
    assert out[5].change_type == "added" and out[5].changed_columns == ""


def test_table_diff_null_vs_value_is_changed(spark):
    old = spark.createDataFrame([(1, "x")], "k int, s string")
    new = spark.createDataFrame([(1, None)], "k int, s string")
    rows = table_diff(old, new, ["k"]).collect()
    assert len(rows) == 1
    assert rows[0].change_type == "changed"
    assert rows[0].changed_columns == "s"


def test_table_diff_compare_cols_subset(spark):
    old = spark.createDataFrame([(1, "x", 1.0)], "k int, s string, v double")
    new = spark.createDataFrame([(1, "y", 1.0)], "k int, s string, v double")
    # only v compared: the s change is invisible -> empty diff
    assert table_diff(old, new, ["k"], compare_cols=["v"]).count() == 0


def test_fk_orphans_ignores_null_fks_and_counts_misses(spark):
    fact = spark.createDataFrame(
        [(1,), (2,), (99,), (None,)], "fk int"
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    row = fk_orphans(fact, "fk", dim, "pk").collect()[0]
    assert row.fk == "fk->pk"
    assert row.n_orphans == 1  # only 99; NULL is not an orphan


def test_fk_orphans_zero_on_clean_data(spark):
    fact = spark.createDataFrame([(1,), (1,), (2,)], "fk int")
    dim = spark.createDataFrame([(1,), (2,)], "pk int")
    assert fk_orphans(fact, "fk", dim, "pk").collect()[0].n_orphans == 0
