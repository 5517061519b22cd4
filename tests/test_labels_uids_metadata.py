"""Unit tests: label repair against the reference's _transform_subset
semantics (field_info.py:306-377) and D8 deterministic uid minting (incl.
collision resolution)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from neotree_data_pipeline_kedro_spark.operators.labels import (
    repair_dataframe_labels,
    repair_field,
)
from neotree_data_pipeline_kedro_spark.operators.uids import (
    minted_uid,
    repair_duplicate_uids,
)

GENDER = {
    "label": "What is the gender?",
    "type": "dropdown",
    "options": [
        {"value": "M", "valueLabel": "Male"},
        {"value": "F", "valueLabel": "Female"},
    ],
}
SYMPTOMS = {
    "label": "Symptoms observed",
    "type": "multi_select",
    "options": [
        {"value": "FV", "valueLabel": "Fever"},
        {"value": "CG", "valueLabel": "Cough"},
    ],
}
FREE = {"label": "Notes", "type": "text", "options": []}


def _run(spark, rows, field):
    df = spark.createDataFrame(rows, "value string, label string")
    fv, fl = repair_field("value", "label", field)
    return [(r.v, r.l) for r in df.select(fv.alias("v"), fl.alias("l")).collect()]


def test_repair_field_select(spark):
    got = _run(
        spark,
        [
            # question-label rows get relabeled from options
            ("M", "What is the gender?"),
            # unknown value under the gate -> NULL label (pandas .map)
            ("X", "What is the gender?"),
            # correct label untouched
            ("F", "Female"),
            # inverted pair (value holds the label, label holds the value) swaps
            ("Male", "M"),
            # junk label NOT equal to json_label: left alone (the gate)
            ("M", "junk"),
            # oth passthrough: no relabel even under the gate
            ("Oth", "What is the gender?"),
            # null value forces null label
            (None, "Male"),
        ],
        GENDER,
    )
    assert got == [
        ("M", "Male"),
        ("X", None),
        ("F", "Female"),
        ("M", "Male"),
        ("M", "junk"),
        ("Oth", "What is the gender?"),
        (None, None),
    ]


def test_repair_field_multiselect(spark):
    got = _run(
        spark,
        [
            ("FV,CG", "Symptoms observed"),
            ("FV, ZZ ,", "Symptoms observed"),  # strip + unknown passthrough + empty drop
            ("FV", "Fever"),  # gate closed: untouched
        ],
        SYMPTOMS,
    )
    assert got == [
        ("FV,CG", "Fever,Cough"),
        ("FV, ZZ ,", "Fever,ZZ"),
        ("FV", "Fever"),
    ]


def test_repair_field_no_options(spark):
    got = _run(spark, [("hello", "Notes"), ("hello", "kept")], FREE)
    # no options: gated rows take label := value
    assert got == [("hello", "hello"), ("hello", "kept")]


def test_repair_dataframe_labels(spark):
    df = spark.createDataFrame(
        [("M", "What is the gender?", "x")],
        ["Gender.value", "Gender.label", "other"],
    )
    out = repair_dataframe_labels(df, {"Gender": GENDER, "Missing": GENDER})
    row = out.collect()[0]
    assert row["Gender.label"] == "Male"
    assert row["other"] == "x"
    assert out.columns == df.columns


def test_repair_duplicate_uids(spark):
    df = spark.createDataFrame(
        [
            ("A", "2024-01", 1),
            ("A", "2024-01", 2),  # same episode: keeps uid
            ("A", "2024-02", 3),  # second episode: minted
            ("B", "2024-01", 4),  # unique uid: untouched
        ],
        ["uid", "da", "rid"],
    )
    out = {r.rid: r.uid for r in repair_duplicate_uids(df, "uid", "da").collect()}
    assert out[1] == "A" and out[2] == "A" and out[4] == "B"
    assert re.fullmatch(r"[A-Z0-9]{2}ZZ-\d{4}", out[3])
    # deterministic across runs
    again = {r.rid: r.uid for r in repair_duplicate_uids(df, "uid", "da").collect()}
    assert again == out


def _mint(spark, uid, da, salt):
    return spark.range(1).select(minted_uid(F.lit(uid), F.lit(da), salt)).first()[0]


# (rows as (uid, da), ids put in existing_uids, expected uid per row or
# None when the repair must fail, the ids the case relies on and the
# triples that must mint them); a (uid, da, salt) triple stands for
# minted_uid(uid, da, salt)
COLLISION_CASES = {
    # U1113's and U598's 2024-02 episodes share the salt-1 id E2ZZ-4516 and
    # both salt-0 ids are taken: U1113, first in (uid, date) order, gets it
    # and U598 moves on to its salt-2 id 13ZZ-7854
    "chained": (
        [("U1113", "2024-01"), ("U1113", "2024-02"),
         ("U598", "2024-01"), ("U598", "2024-02")],
        [("U1113", "2024-02", 0), ("U598", "2024-02", 0)],
        ["U1113", ("U1113", "2024-02", 1), "U598", ("U598", "2024-02", 2)],
        {"E2ZZ-4516": [("U1113", "2024-02", 1), ("U598", "2024-02", 1)],
         "13ZZ-7854": [("U598", "2024-02", 2)]},
    ),
    # the salt-0 mint is an existing uid: the episode re-salts
    "single": (
        [("A", "2024-01"), ("A", "2024-02")],
        [("A", "2024-02", 0)],
        ["A", ("A", "2024-02", 1)],
        {},
    ),
    # U161's and U297's 2024-02 episodes share the salt-0 id 03ZZ-1251: the
    # smaller (uid, date) keeps it, the larger re-salts
    "shared_salt0": (
        [("U161", "2024-01"), ("U161", "2024-02"),
         ("U297", "2024-01"), ("U297", "2024-02")],
        [],
        ["U161", ("U161", "2024-02", 0), "U297", ("U297", "2024-02", 1)],
        {"03ZZ-1251": [("U161", "2024-02", 0), ("U297", "2024-02", 0)]},
    ),
    # U1386's 2024-02 salt-1 id 32ZZ-2124 is the salt-0 id U1258's 2024-02
    # episode keeps: with its own salt-0 id taken, U1386 skips salt 1 and
    # takes salt 2
    "salt0_burns_later_salt": (
        [("U1386", "2024-01"), ("U1386", "2024-02"),
         ("U1258", "2024-01"), ("U1258", "2024-02")],
        [("U1386", "2024-02", 0)],
        ["U1386", ("U1386", "2024-02", 2), "U1258", ("U1258", "2024-02", 0)],
        {"32ZZ-2124": [("U1386", "2024-02", 1), ("U1258", "2024-02", 0)]},
    ),
    # rows with a null uid or a null date keep their uid; a null date is
    # the uid's first episode
    "nulls": (
        [(None, "2024-01"), (None, "2024-02"), ("A", None), ("A", "2024-01")],
        [],
        [None, None, "A", ("A", "2024-01", 0)],
        {},
    ),
    # all 9 candidate ids of the episode are taken
    "every_salt_taken": (
        [("A", "2024-01"), ("A", "2024-02")],
        [("A", "2024-02", salt) for salt in range(9)],
        None,
        {},
    ),
}


@pytest.mark.parametrize("case", sorted(COLLISION_CASES))
def test_repair_duplicate_uids_collision(spark, case):
    rows, existing, want, mints = COLLISION_CASES[case]
    for minted, triples in mints.items():
        assert [_mint(spark, *t) for t in triples] == [minted] * len(triples)
    df = spark.createDataFrame(
        [(u, d, rid) for rid, (u, d) in enumerate(rows)], "uid string, da string, rid int"
    )
    ex = spark.createDataFrame(
        [(_mint(spark, *t),) for t in existing], "uid string"
    ) if existing else None
    if want is None:
        with pytest.raises(Exception, match="no free surrogate id"):
            repair_duplicate_uids(df, "uid", "da", ex).collect()
        return
    out = {r.rid: r.uid for r in repair_duplicate_uids(df, "uid", "da", ex).collect()}
    expected = {
        rid: _mint(spark, *w) if isinstance(w, tuple) else w
        for rid, w in enumerate(want)
    }
    assert out == expected
