"""Edge cases of the greedy tiered 1:1 assignment (J3,
operators/joins.tiered_asof_assignment), each checked against the
independent pandas twin of the reference's scan (merge_all.py:343-470)."""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
import pytest

from neotree_data_pipeline_kedro_spark.operators.joins import tiered_asof_assignment

from test_no_oracle_parity import _greedy_twin

NAN = float("nan")
T0 = dt.datetime(2024, 3, 1, 8, 0)


def _h(hours: int | None) -> dt.datetime | None:
    return None if hours is None else T0 + dt.timedelta(hours=hours)


def _assign(spark, adm, dis, ts_type="timestamp"):
    """(engine result, twin result) over rows (uid, facility, rid, ts, ofc, bw)."""
    schema = f"uid string, facility string, rid long, ts {ts_type}, ofc double, bw double"
    got = tiered_asof_assignment(
        spark.createDataFrame(adm, schema).withColumnRenamed("rid", "admission_rid"),
        spark.createDataFrame(dis, schema).withColumnRenamed("rid", "discharge_rid"),
        adm_ts="ts",
        dis_ts="ts",
    )
    have = {
        (r.discharge_rid, r.admission_rid, r.match_status) for r in got.collect()
    }

    def frame(rows, rid):
        pdf = pd.DataFrame(rows, columns=["uid", "facility", rid, "ts", "ofc", "bw"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return pdf.astype({"ofc": float, "bw": float})

    return have, _greedy_twin(frame(adm, "admission_rid"), frame(dis, "discharge_rid"))


def test_nan_and_null_measurements_never_match(spark):
    # NaN OFC on both sides must not count as a unique OFC hit (Spark's
    # NaN = NaN is true, the reference's is not); null never matches either
    adm = [
        ("u1", "F", 1, _h(0), NAN, NAN),
        ("u1", "F", 2, _h(1), None, 3.0),
        ("u2", "F", 3, _h(0), NAN, 2.0),
    ]
    dis = [
        ("u1", "F", 10, _h(5), NAN, None),
        ("u2", "F", 11, _h(5), NAN, NAN),
    ]
    have, want = _assign(spark, adm, dis)
    assert have == want
    assert {s for _, _, s in have} == {"ambiguous"}


def test_null_datetimes_on_either_side(spark):
    adm = [
        ("u1", "F", 1, None, None, None),
        ("u1", "F", 2, _h(3), None, None),
        ("u2", "F", 3, None, None, None),
        ("u2", "F", 4, None, None, None),
    ]
    dis = [
        ("u1", "F", 10, None, None, None),  # sorted last: takes what is left
        ("u1", "F", 11, _h(9), None, None),  # nearest dated admission
        ("u2", "F", 12, _h(1), None, None),  # no usable delta: lowest rid
    ]
    have, want = _assign(spark, adm, dis)
    assert have == want == {
        (11, 2, "ambiguous"), (10, 1, "ambiguous"), (12, 3, "ambiguous")
    }


def test_date_typed_datetimes(spark):
    d = lambda day: None if day is None else dt.date(2024, 3, day)  # noqa: E731
    adm = [
        ("u1", "F", 1, d(1), None, None),
        ("u1", "F", 2, d(3), None, None),
        ("u1", "F", 3, d(6), None, None),
    ]
    dis = [
        ("u1", "F", 10, d(4), None, None),
        ("u1", "F", 11, d(2), None, None),
        ("u1", "F", 12, None, None, None),
    ]
    have, want = _assign(spark, adm, dis, ts_type="date")
    assert have == want
    assert (11, 1, "ambiguous") in have and (10, 2, "ambiguous") in have


def test_equal_fallback_deltas_take_the_lower_rid(spark):
    adm = [
        ("u1", "F", 7, _h(0), 1.0, 1.0),
        ("u1", "F", 5, _h(0), 2.0, 2.0),
        ("u1", "F", 6, _h(0), 3.0, 3.0),
    ]
    dis = [("u1", "F", 10, _h(4), 9.0, 9.0), ("u1", "F", 11, _h(5), 9.0, 9.0)]
    have, want = _assign(spark, adm, dis)
    assert have == want == {(10, 5, "ambiguous"), (11, 6, "ambiguous")}


def test_ofc_tie_then_unique_bw_is_ambiguous(spark):
    adm = [
        ("u1", "F", 1, _h(0), 33.0, 2000.0),
        ("u1", "F", 2, _h(1), 33.0, 2500.0),
        ("u1", "F", 3, _h(2), 34.0, 3000.0),
    ]
    dis = [
        ("u1", "F", 10, _h(5), 33.0, 2500.0),  # OFC tie -> unique BW
        ("u1", "F", 11, _h(6), 34.0, 1.0),  # unique OFC
    ]
    have, want = _assign(spark, adm, dis)
    assert have == want == {(10, 2, "ambiguous"), (11, 3, "matched")}


def test_more_discharges_than_admissions(spark):
    adm = [("u1", "F", 1, _h(0), 30.0, 1000.0)]
    dis = [
        ("u1", "F", 10, _h(2), 31.0, 1001.0),
        ("u1", "F", 11, _h(3), 30.0, 1000.0),
        ("u1", "F", 12, _h(4), None, None),
        ("u9", "F", 13, _h(4), 30.0, 1000.0),  # no admission in its group
    ]
    have, want = _assign(spark, adm, dis)
    assert have == want
    assert sum(a is None for _, a, _ in have) == 3
    assert {s for _, a, s in have if a is None} == {"unmatched_discharge"}


@pytest.mark.parametrize("seed", [0, 1])
def test_random_groups_match_the_twin(spark, seed):
    """Small groups drawn over few distinct measurements and datetimes, so
    every tier, tie and null path shows up."""
    rng = random.Random(seed)
    pick = lambda *xs: rng.choice(xs)  # noqa: E731
    adm, dis, rid = [], [], 0
    for g in range(120):
        key = (f"u{g % 50}", pick("A", "B"))
        for rows in (adm, dis):
            for _ in range(rng.randrange(4)):
                rid += 1
                rows.append((*key, rid, _h(pick(None, 0, 1, 2, 3)),
                             pick(None, NAN, 1.0, 2.0), pick(None, NAN, 1.0, 2.0)))
    have, want = _assign(spark, adm, dis)
    assert have == want
    assert {s for _, _, s in have} == {"matched", "ambiguous", "unmatched_discharge"}
