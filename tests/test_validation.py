"""Condition mini-language + validation-suite operators (SURVEY.md §2.10/§2.11).

Reference semantics: data_validation/validate.py:263-311 (condition
evaluation with boolean token coercion, missing-column → NULL, null → False)
and :385-425 (conditional required-field null metrics).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neotree_data_pipeline_kedro_spark.operators.validation import (
    compile_condition,
    conditional_required_nulls,
)


@pytest.fixture(scope="module")
def wide(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "EventType.value": ["click", "error", "click", "view", "click"],
                "Score.value": [9.0, 1.0, 3.0, None, 8.5],
                "Flag.value": ["y", "No", "nan", "1", "TRUE "],
                "Comment.value": ["ok", "nan", None, " ", "<NA>"],
            }
        )
    )


def _mask(wide, cond, boolean_keys=()):
    col = compile_condition(cond, wide.columns, boolean_keys)
    return [r["m"] for r in wide.select(col.alias("m")).collect()]


def test_equality_and_comparison(wide):
    # single '=' equality, 'and' conjunction, numeric comparison
    assert _mask(wide, "$EventType = 'click' and $Score > 7") == [
        True,
        False,
        False,
        False,
        True,
    ]


def test_null_condition_is_false(wide):
    # row 3 has Score NULL: NULL > 7 → NULL → coalesced to False
    # (reference .fillna(False), validate.py:308)
    assert _mask(wide, "$Score > 0") == [True, True, True, False, True]


def test_boolean_token_coercion(wide):
    # y/TRUE /1 → true; No → false; 'nan' → NULL → false
    # (reference bool_map, validate.py:263-274)
    assert _mask(wide, "$Flag = true", boolean_keys={"Flag"}) == [
        True,
        False,
        False,
        True,
        True,
    ]


def test_or_and_case_insensitive_keywords(wide):
    assert _mask(wide, "$EventType = 'error' OR $Score >= 8.5") == [
        True,
        True,
        False,
        False,
        True,
    ]


def test_missing_column_is_null(wide):
    # $Nope resolves to NULL → comparison NULL → False everywhere
    assert _mask(wide, "$Nope = 'x'") == [False] * 5


def test_empty_condition_is_all_true(wide):
    assert _mask(wide, None) == [True] * 5
    assert _mask(wide, "   ") == [True] * 5


def test_conditional_required_nulls(wide):
    fields = [
        {"key": "Comment", "condition": "$EventType = 'click' and $Score > 7"},
        {"key": "Flag", "dataType": "boolean"},
        {"key": "Missing"},
        {"key": "Ignored", "optional": True},
    ]
    out = {
        r["base_key"]: r.asDict()
        for r in conditional_required_nulls(wide, fields).collect()
    }
    assert set(out) == {"Comment", "Flag", "Missing"}
    # eligible: rows 0 and 4; Comment there: 'ok' (kept), '<NA>' (null token)
    assert out["Comment"]["eligible_count"] == 2
    assert out["Comment"]["null_count"] == 1
    assert out["Comment"]["null_pct"] == pytest.approx(50.0)
    # Flag: 'nan' is the only null token among 5
    assert out["Flag"]["null_count"] == 1
    # absent column → 100% null
    assert out["Missing"]["null_count"] == 5
    assert out["Missing"]["null_pct"] == pytest.approx(100.0)


def test_oracle_parity_smoke(spark, duck):
    """The two registry queries hash-equal DuckDB at sf0.001 (full parity
    at sf0.01 is covered by test_oracle_parity's sweep via the registry)."""
    from neotree_data_pipeline_kedro_spark.plans.queries import ORACLE_SQL, QUERIES

    for name in ("v_conditional_required", "v_quality_suite"):
        sp = (
            QUERIES[name](spark, "/root/testdata/sf0.001")
            .toPandas()
            .sort_values("base_key" if name == "v_conditional_required" else "check_name")
            .reset_index(drop=True)
        )
        oc = (
            duck.execute(ORACLE_SQL[name])
            .df()
            .sort_values("base_key" if name == "v_conditional_required" else "check_name")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            sp[sorted(sp.columns)], oc[sorted(oc.columns)], check_dtype=False
        )


def test_value_label_consistency_counts(spark):
    """Value↔label consistency (validate.py:566-609): case-insensitive
    matches, empty/unknown values, absent columns and non-select fields
    are all skipped."""
    from neotree_data_pipeline_kedro_spark.operators.validation import (
        value_label_consistency,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "uid": ["u1", "u2", "u3", "u4", "u5", "u6"],
                "Sev.value": ["1", "2", "9", "", None, "3"],
                "Sev.label": ["Low", "high ", "whatever", "x", "y", "LOW"],
            }
        )
    )
    fields = [
        {
            "key": "Sev",
            "fieldType": "dropdown",
            "options": [
                {"value": "1", "valueLabel": "Low"},
                {"value": "2", "valueLabel": "Medium"},
                {"value": "3", "valueLabel": "High"},
            ],
        },
        {"key": "Sev", "fieldType": "text"},  # non-select twin: ignored
        {"key": "Gone", "fieldType": "dropdown",
         "options": [{"value": "a", "valueLabel": "A"}]},  # absent column
    ]
    # u2: 'high' != 'Medium'; u6: 'LOW' != 'High'. u1 exact, u3 unknown value,
    # u4 empty value, u5 null value are all skipped.
    agg = value_label_consistency(df, fields).collect()
    assert len(agg) == 1
    assert (agg[0].base_key, agg[0].mismatch_count, agg[0].checked_count) == ("Sev", 2, 3)


def test_column_profile_accuracy(spark):
    """Sketch profile vs exact answers on sf0.001 lineitem: distinct
    estimates within 3x the configured rsd, percentiles within the
    sketch's rank-error bound, exact null/row counts."""
    from pyspark.sql import functions as F

    from neotree_data_pipeline_kedro_spark.operators.validation import (
        column_profile,
    )
    from neotree_data_pipeline_kedro_spark.sources.tables import load_table

    from conftest import SF_SMOKE

    li = load_table(spark, "lineitem", SF_SMOKE)
    cols = ["l_orderkey", "l_quantity", "l_returnflag"]
    prof = {r.column_name: r for r in column_profile(li, cols, rsd=0.05).collect()}

    n = li.count()
    for c in cols:
        r = prof[c]
        assert r.row_count == n
        exact_nulls = li.filter(F.col(c).isNull()).count()
        assert r.null_count == exact_nulls
        exact_distinct = li.select(c).distinct().count()
        assert abs(r.approx_distinct - exact_distinct) <= max(
            3, 3 * 0.05 * exact_distinct
        ), c

    # numeric percentiles: rank error <= 1/accuracy of the row count
    exact_q = li.selectExpr(
        "percentile(l_quantity, array(0.5, 0.95)) as q"
    ).collect()[0].q
    got = prof["l_quantity"]
    ranks = li.filter(F.col("l_quantity") <= got.p50).count() / n
    assert 0.45 <= ranks <= 0.55
    ranks95 = li.filter(F.col("l_quantity") <= got.p95).count() / n
    assert 0.90 <= ranks95 <= 1.0
    # string column percentiles are NULL
    assert prof["l_returnflag"].p50 is None


def test_percentile_approx_within_rank_error_of_exact(spark):
    """The 100 TB percentile path (mergeable sketch) must land within the
    documented rank-error bound of the exact interpolated percentile used
    by a10_group_percentiles."""
    from pyspark.sql import functions as F

    from neotree_data_pipeline_kedro_spark.sources.tables import load_table

    orders = load_table(spark, "orders", "/root/testdata/sf0.001")
    acc = 100  # rank error <= n / acc
    both = (
        orders.groupBy("o_orderpriority")
        .agg(
            F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("exact"),
            F.percentile_approx(F.col("o_totalprice"), F.lit(0.5), F.lit(acc)).alias(
                "approx"
            ),
            F.count("*").alias("n"),
            F.sort_array(F.collect_list("o_totalprice")).alias("vals"),
        )
        .collect()
    )
    for r in both:
        # translate the rank bound into a value bound via the sorted sample
        lo_rank = max(0, int(0.5 * r.n) - max(1, r.n // acc) - 1)
        hi_rank = min(r.n - 1, int(0.5 * r.n) + max(1, r.n // acc) + 1)
        assert r.vals[lo_rank] <= r.approx <= r.vals[hi_rank], (
            r.o_orderpriority,
            r.approx,
            (r.vals[lo_rank], r.vals[hi_rank]),
        )
