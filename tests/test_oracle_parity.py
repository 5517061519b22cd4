"""Local mirror of the driver's correctness gate: every registry query runs
on Spark at sf0.001 and must match its DuckDB oracle exactly (sorted rows,
sorted columns, exact values — floats included, by deterministic design).
"""

from __future__ import annotations

import datetime
import math

import pandas as pd
import pytest

from neotree_data_pipeline_kedro_spark.plans.queries import ORACLE_SQL, QUERIES

from conftest import SF_SMOKE


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            def _coerce(v):
                if hasattr(v, "as_tuple"):  # Decimal
                    return float(v)
                if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
                    # Spark DATE columns arrive as datetime.date while DuckDB's
                    # fetchdf yields midnight datetime64 — same calendar value.
                    return pd.Timestamp(v)
                return v

            df[c] = df[c].map(_coerce)
    def cell_key(v) -> str:
        if pd.isna(v):
            return "\x01NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    key = df.apply(lambda r: "\x00".join(cell_key(v) for v in r.values), axis=1)
    if len(df) == 0:
        return df
    return df.iloc[key.argsort(kind="mergesort")].reset_index(drop=True)


def _cells_equal(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_oracle_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF_SMOKE).toPandas()
    odf = duck.execute(ORACLE_SQL[name]).fetchdf()
    assert sorted(map(str.lower, sdf.columns)) == sorted(
        map(str.lower, odf.columns)
    ), f"{name}: column names differ: {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    odf.columns = [
        next(sc for sc in sdf.columns if sc.lower() == oc.lower()) for oc in odf.columns
    ]
    s, o = _normalize(sdf), _normalize(odf)
    assert len(s) == len(o), f"{name}: row count {len(s)} vs oracle {len(o)}"
    for c in s.columns:
        sv, ov = s[c].tolist(), o[c].tolist()
        bad = [
            (i, a, b) for i, (a, b) in enumerate(zip(sv, ov)) if not _cells_equal(a, b)
        ]
        assert not bad, f"{name}.{c}: {len(bad)} mismatches, first 5: {bad[:5]}"


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLE_SQL))
)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    n = df.count()
    assert n >= 0
    df.limit(5).collect()


def test_sm_all_lifecycle_null_uid_keeps_its_side(spark, tmp_path):
    """A signup and a purchase with a null ``user_id`` never match each
    other: each stays one-sided, the signup an open admission and the
    purchase an unmatched discharge, in Spark and in the oracle alike."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.oracle_check import canon_hash

    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    top = pa.compute.max(events["event_id"]).as_py()
    extra = pa.Table.from_pylist(
        [
            {"event_id": top + 1, "ts": datetime.datetime(2024, 3, 1, 9, 0),
             "user_id": None, "event_type": "signup", "value": 1.0, "props": None},
            {"event_id": top + 2, "ts": datetime.datetime(2024, 3, 2, 9, 0),
             "user_id": None, "event_type": "purchase", "value": 2.0, "props": None},
        ],
        schema=events.schema,
    )
    pq.write_table(pa.concat_tables([events, extra]), tmp_path / "events.parquet")

    got = QUERIES["sm_all_lifecycle"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'events.parquet'}')"
        )
        want = con.execute(ORACLE_SQL["sm_all_lifecycle"]).fetchdf()
    finally:
        con.close()
    null_rows = got[got["uid"].isna()]
    assert sorted(null_rows["match_status"]) == [
        "unmatched_admission", "unmatched_discharge"]
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert canon_hash(got) == canon_hash(want)
